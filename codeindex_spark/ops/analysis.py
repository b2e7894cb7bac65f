"""Text-analysis operators for training-data pipelines.

- token_stats      — per-doc token counts / distinct ratio / lengths
                     (JVM-side split+aggregate expressions)
- quality_score    — composite heuristic quality in [0,1]
- fingerprint      — normalization + md5 content fingerprint
- language_id      — stopword-overlap n-gram heuristic (pandas UDF,
                     Arrow-batched); deterministic fake-ready corpus
                     of stopword tables for a handful of languages
- repetition_stats  — Gopher-style duplicate-line / top-n-gram
                     character fractions (zero-shuffle Arrow kernel)
- token_count_bpe_ish — BPE-flavored token estimate via regex splits
- corpus_profile   — per-group volumes, token-count quantiles
                     (exact or t-digest), vocabulary size

These run over a (id_col, text_col) corpus; all hot paths are
built-in expressions, the language heuristic is a vectorized kernel.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window as SparkWindow

from codeindex_spark.ops._text import ws_tokens
from codeindex_spark.util import ensure_parallelism

# compact stopword tables (public common-word lists, truncated)
STOPWORDS = {
    "en": {"the", "a", "of", "and", "to", "in", "is", "it", "that", "for"},
    "de": {"der", "die", "das", "und", "ist", "zu", "den", "mit", "von", "ein"},
    "fr": {"le", "la", "de", "et", "est", "un", "une", "les", "des", "dans"},
    "es": {"el", "la", "de", "y", "es", "un", "una", "los", "en", "que"},
}


def token_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_tokens, n_distinct, distinct_ratio, avg_token_len,
    n_chars) — whitespace tokens, all JVM expressions."""
    toks = F.split(F.trim(F.col(text_col)), " +")
    toks = F.filter(toks, lambda w: w != "")
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        (F.size(F.array_distinct(toks)) / F.greatest(F.size(toks), F.lit(1))).alias(
            "distinct_ratio"
        ),
        (
            F.aggregate(toks, F.lit(0), lambda acc, w: acc + F.length(w))
            / F.greatest(F.size(toks), F.lit(1))
        ).alias("avg_token_len"),
        F.length(F.col(text_col)).alias("n_chars"),
    )


def quality_score(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Composite quality heuristic in [0,1]:
    length term (saturating at 64 tokens) * diversity term
    (distinct ratio) — deterministic arithmetic, SQL-portable."""
    stats = token_stats(df, id_col, text_col)
    return stats.select(
        "doc_id",
        "n_tokens",
        "distinct_ratio",
        (
            F.least(F.col("n_tokens") / F.lit(64.0), F.lit(1.0))
            * F.col("distinct_ratio")
        ).alias("quality"),
    )


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_flags(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.1,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
) -> DataFrame:
    """Gopher quality-filter rules (Rae et al. 2021, arXiv:2112.11446
    Table A1 — the standard LLM-pretraining heuristics) as one
    per-doc row of booleans plus the conjunction:

    (doc_id, n_words, mean_word_len, symbol_ratio, bullet_line_frac,
     ellipsis_line_frac, alpha_word_frac, stopword_hits,
     ok_word_count, ok_mean_word_len, ok_symbol_ratio, ok_bullets,
     ok_ellipses, ok_alpha_words, ok_stopwords, gopher_pass)

    Rules: word count in [min,max]; mean word length in [3,10];
    '#'/'...' symbol-to-word ratio <= 0.1; <= 10% of lines start with
    a bullet; <= 30% of lines end with an ellipsis; >= 80% of words
    contain an alphabetic character; >= 2 of the 8 stop words present.
    All single-pass JVM expressions — no shuffle, no Python. NULL
    text is treated as empty (metrics 0, every rule flag concrete)."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    words = F.filter(
        F.split(F.trim(text), "\\s+"), lambda w: w != ""
    )
    lines = F.filter(
        F.split(text, "\n"), lambda l: F.trim(l) != ""
    )
    nw = F.greatest(F.size(words), F.lit(1))
    nl = F.greatest(F.size(lines), F.lit(1))
    n_sym = (
        F.regexp_count(text, F.lit("#"))
        + F.regexp_count(text, F.lit("\\.\\.\\."))
        + F.regexp_count(text, F.lit("…"))
    )
    bullet_lines = F.size(
        F.filter(
            lines,
            lambda l: F.trim(l).rlike("^[•‣▶\\-\\*]"),
        )
    )
    ellipsis_lines = F.size(
        F.filter(lines, lambda l: F.trim(l).rlike("(\\.\\.\\.|…)$"))
    )
    alpha_words = F.size(
        F.filter(words, lambda w: w.rlike("[a-zA-Z]"))
    )
    lowered = F.transform(words, lambda w: F.lower(w))
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(lowered),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    )
    m = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(words).alias("n_words"),
        F.round(
            F.aggregate(
                words, F.lit(0), lambda acc, w: acc + F.length(w)
            )
            / nw,
            6,
        ).alias("mean_word_len"),
        F.round(n_sym / nw, 6).alias("symbol_ratio"),
        F.round(bullet_lines / nl, 6).alias("bullet_line_frac"),
        F.round(ellipsis_lines / nl, 6).alias("ellipsis_line_frac"),
        F.round(alpha_words / nw, 6).alias("alpha_word_frac"),
        stop_hits.cast("int").alias("stopword_hits"),
    )
    flags = m.select(
        "*",
        (
            (F.col("n_words") >= min_words)
            & (F.col("n_words") <= max_words)
        ).alias("ok_word_count"),
        (
            (F.col("mean_word_len") >= min_mean_word_len)
            & (F.col("mean_word_len") <= max_mean_word_len)
        ).alias("ok_mean_word_len"),
        (F.col("symbol_ratio") <= max_symbol_ratio).alias(
            "ok_symbol_ratio"
        ),
        # the threshold is used directly — deriving it as
        # 1.0 - 0.9 = 0.09999999999999998 would reject the exact-10%
        # boundary the rule admits
        (F.col("bullet_line_frac") <= max_bullet_line_frac).alias(
            "ok_bullets"
        ),
        (F.col("ellipsis_line_frac") <= max_ellipsis_line_frac).alias(
            "ok_ellipses"
        ),
        (F.col("alpha_word_frac") >= min_alpha_word_frac).alias(
            "ok_alpha_words"
        ),
        (F.col("stopword_hits") >= min_stopword_hits).alias(
            "ok_stopwords"
        ),
    )
    return flags.select(
        "*",
        (
            F.col("ok_word_count")
            & F.col("ok_mean_word_len")
            & F.col("ok_symbol_ratio")
            & F.col("ok_bullets")
            & F.col("ok_ellipses")
            & F.col("ok_alpha_words")
            & F.col("ok_stopwords")
        ).alias("gopher_pass"),
    )


def c4_clean(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words_per_line: int = 3,
    min_sentences: int = 5,
) -> DataFrame:
    """C4 cleaning rules (Raffel et al. 2020, arXiv:1910.10683 §2.2 —
    the other canonical pretraining filter next to Gopher and CCNet
    perplexity): per-LINE retention plus per-DOC discard flags:

    (doc_id, n_lines, n_kept_lines, n_sentences, has_lorem_ipsum,
     has_brace, text_clean, c4_keep)

    - a line is KEPT when it ends in terminal punctuation (. ! ? or
      closing quote after one) AND has >= ``min_words_per_line``
      words AND does not contain the word "javascript" (case-
      insensitive);
    - the DOC is kept (c4_keep) when its cleaned text has >=
      ``min_sentences`` sentences (terminal-punctuation count — the
      paper's sentence proxy), does not contain "lorem ipsum"
      (case-insensitive), and does not contain '{' (code marker).

    ``text_clean`` is the kept lines joined by newlines. Single-pass
    JVM expressions; NULL text is treated as empty."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.filter(F.split(text, "\n"), lambda l: F.trim(l) != "")
    term_end = "(\\.|!|\\?|[.!?][\"”'’])\\s*$"
    kept = F.filter(
        lines,
        lambda l: F.trim(l).rlike(term_end)
        & (
            F.size(
                F.filter(
                    F.split(F.trim(l), "\\s+"), lambda w: w != ""
                )
            )
            >= min_words_per_line
        )
        & ~F.lower(l).rlike("\\bjavascript\\b"),
    )
    clean = F.array_join(F.transform(kept, F.trim), "\n")
    n_sentences = F.regexp_count(clean, F.lit("[.!?]"))
    has_lorem = F.lower(text).contains("lorem ipsum")
    has_brace = text.contains("{")
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.size(lines).alias("n_lines"),
        F.size(kept).alias("n_kept_lines"),
        n_sentences.alias("n_sentences"),
        has_lorem.alias("has_lorem_ipsum"),
        has_brace.alias("has_brace"),
        clean.alias("text_clean"),
        (
            (n_sentences >= min_sentences) & ~has_lorem & ~has_brace
        ).alias("c4_keep"),
    )


def fingerprint(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, fingerprint): md5 of whitespace-normalized lowercase
    text — the cheap exact-dup/fingerprint column."""
    norm = F.lower(F.trim(F.regexp_replace(F.col(text_col), "\\s+", " ")))
    return df.select(
        F.col(id_col).alias("doc_id"), F.md5(norm).alias("fingerprint")
    )


def language_id(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, lang_pred, lang_conf): stopword-overlap heuristic with
    a CJK charset fast path. Arrow-batched pandas kernel."""
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("lang_pred", T.StringType(), False),
            T.StructField("lang_conf", T.DoubleType(), False),
        ]
    )
    langs = sorted(STOPWORDS)

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            texts = pdf[text_col].fillna("")
            cjk = texts.str.contains(r"[一-鿿]", regex=True)
            token_lists = texts.str.lower().str.split()
            preds, confs = [], []
            for has_cjk, toks in zip(cjk, token_lists):
                if has_cjk:
                    preds.append("zh")
                    confs.append(1.0)
                    continue
                ts = set(toks or ())
                scores = [len(ts & STOPWORDS[lg]) for lg in langs]
                best = int(np.argmax(scores))
                total = sum(scores)
                preds.append(langs[best] if total else "unknown")
                confs.append(scores[best] / total if total else 0.0)
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].to_numpy(),
                    "lang_pred": preds,
                    "lang_conf": confs,
                }
            )

    return ensure_parallelism(df.select(id_col, text_col)).mapInPandas(
        kernel, schema=schema
    )


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher/MassiveText repetition quality signals (Rae et al.
    2021, table A1 subset) per doc:

    - dup_line_frac      = Σ_{line l, count c_l > 1} (c_l - 1) / Σ c_l
    - dup_line_char_frac = same, weighted by line length
    - top2gram_char_frac / top3gram_char_frac = characters covered by
      all occurrences of the single highest-coverage word n-gram
      (coverage = count * len(gram); ties broken by lexicographically
      smallest gram) / len(text)

    Lines split on \\n, words on single spaces — both kept raw (no
    empty filtering) so any engine reproduces the numbers exactly.

    Per-doc metrics are embarrassingly parallel: ONE Arrow-batched
    kernel, zero shuffles — the scale-correct shape (an explode +
    groupBy formulation would shuffle every n-gram of a 100 TB
    corpus for per-doc-local answers)."""
    from collections import Counter

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("dup_line_frac", T.DoubleType(), False),
            T.StructField("dup_line_char_frac", T.DoubleType(), False),
            T.StructField("top2gram_char_frac", T.DoubleType(), False),
            T.StructField("top3gram_char_frac", T.DoubleType(), False),
        ]
    )

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            dlf_l, dlcf_l, g2_l, g3_l = [], [], [], []
            for text in pdf[text_col].fillna(""):
                lines = text.split("\n")
                total = len(lines)
                tchars = sum(len(l) for l in lines)
                cnt = Counter(lines)
                dup = sum(c - 1 for c in cnt.values() if c > 1)
                dupch = sum(
                    (c - 1) * len(l) for l, c in cnt.items() if c > 1
                )
                dlf_l.append(dup / total if total else 0.0)
                dlcf_l.append(dupch / tchars if tchars else 0.0)
                words = text.split(" ")
                nc = len(text)
                for n, out in ((2, g2_l), (3, g3_l)):
                    if len(words) < n or nc == 0:
                        out.append(0.0)
                        continue
                    grams = Counter(
                        " ".join(words[i : i + n])
                        for i in range(len(words) - n + 1)
                    )
                    g, c = min(
                        grams.items(),
                        key=lambda kv: (-(kv[1] * len(kv[0])), kv[0]),
                    )
                    out.append(c * len(g) / nc)
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].to_numpy(),
                    "dup_line_frac": dlf_l,
                    "dup_line_char_frac": dlcf_l,
                    "top2gram_char_frac": g2_l,
                    "top3gram_char_frac": g3_l,
                }
            )

    return ensure_parallelism(df.select(id_col, text_col)).mapInPandas(
        kernel, schema=schema
    )


def token_count_bpe_ish(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_words, n_bpe_est): a BPE-flavored token estimate —
    words plus an extra token per 4 chars of long words (common
    ~4-chars-per-token heuristic), pure expressions."""
    toks = F.filter(F.split(F.trim(F.col(text_col)), " +"), lambda w: w != "")
    extra = F.aggregate(
        toks,
        F.lit(0),
        lambda acc, w: acc
        + F.when(F.length(w) > 4, ((F.length(w) - 1) / 4).cast("int")).otherwise(
            F.lit(0)
        ),
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.size(toks).alias("n_words"),
        (F.size(toks) + extra).alias("n_bpe_est"),
    )


def corpus_profile(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "lang",
    quantiles: tuple[float, ...] = (0.25, 0.5, 0.75, 0.95),
    exact: bool = True,
) -> DataFrame:
    """Per-group corpus profile for pipeline monitoring: (group,
    n_docs, total_tokens, avg_tokens, total_chars, q25.. token-count
    quantiles, vocab_size), one row per distinct ``group_col`` value.

    Scale shape: ONE scan derives per-doc token/char counts; the
    volume aggregate is a map-side-combinable groupBy(group).
    ``exact=True`` uses ``percentile()`` — exact type-7 interpolation
    (matches DuckDB ``quantile_cont``) but buffers each group's
    counts on its reducer: the validation / small-corpus mode.
    ``exact=False`` switches to ``approx_percentile`` (t-digest,
    fixed memory per group) — the 100 TB path. Vocabulary size is a
    distinct (group, token) count: keyed on the token, so skew is
    bounded by vocabulary, not corpus size.
    """
    toks = ws_tokens(text_col, lower=False)
    counts = df.select(
        F.col(group_col).alias("grp"),
        F.size(toks).alias("n_tokens"),
        F.length(F.col(text_col)).alias("n_chars"),
    )
    qarr = F.array(*[F.lit(float(q)) for q in quantiles])
    pct = (
        F.percentile("n_tokens", qarr)
        if exact
        else F.approx_percentile("n_tokens", qarr, F.lit(10_000))
    )
    vol = counts.groupBy("grp").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("n_tokens"), 6).alias("avg_tokens"),
        F.sum("n_chars").alias("total_chars"),
        pct.alias("_q"),
    )
    for i, q in enumerate(quantiles):
        vol = vol.withColumn(
            f"q{int(round(q * 100))}",
            F.round(F.element_at("_q", i + 1).cast("double"), 6),
        )
    vol = vol.drop("_q")
    vocab = (
        df.select(
            F.col(group_col).alias("grp"),
            F.explode(F.array_distinct(toks)).alias("tok"),
        )
        .distinct()
        .groupBy("grp")
        .agg(F.count("*").alias("vocab_size"))
    )
    return vol.join(vocab, "grp", "left").select(
        F.col("grp").alias(group_col),
        "n_docs",
        "total_tokens",
        "avg_tokens",
        "total_chars",
        *[f"q{int(round(q * 100))}" for q in quantiles],
        F.coalesce("vocab_size", F.lit(0)).alias("vocab_size"),
    )


def score_buckets(
    scored: DataFrame,
    value_col: str,
    cuts: tuple[float, ...] = (1 / 3, 2 / 3),
    labels: tuple[str, ...] = ("tail", "middle", "head"),
    partition_col: str | None = None,
    exact: bool = False,
    round_to: int | None = None,
) -> DataFrame:
    """Quantile-bucket a per-doc score column: every input row comes
    back with a ``bucket`` label — ``labels[i]`` for rows below the
    ``cuts[i]`` quantile of ``value_col``, the last label above all
    cuts. ``labels`` ascends with the score (CCNet's convention:
    tail / middle / head, head = most target-like).

    ``partition_col`` computes thresholds per group (CCNet buckets
    per language shard). ``exact=True`` uses ``percentile()`` —
    type-7 interpolation matching DuckDB ``quantile_cont`` (the
    validation mode); ``exact=False`` uses ``approx_percentile``
    (t-digest, fixed memory) — the corpus-scale path. ``round_to``
    rounds the THRESHOLDS (callers that pre-round scores pass the
    same precision so boundary comparisons are reproducible across
    engines).

    Scale shape: one bounded agg (one row per group) broadcast back
    over the corpus — no sort, no windowing over the full data."""
    if len(labels) != len(cuts) + 1:
        raise ValueError("need exactly one more label than cuts")
    if not all(0.0 < c < 1.0 for c in cuts) or list(cuts) != sorted(set(cuts)):
        raise ValueError("cuts must be strictly increasing in (0, 1)")
    keys = [partition_col] if partition_col else []
    qarr = F.array(*[F.lit(float(c)) for c in cuts])
    agg = (
        F.percentile(value_col, qarr)
        if exact
        else F.approx_percentile(value_col, qarr, F.lit(10_000))
    ).alias("_q")
    th = scored.groupBy(*keys).agg(agg)
    if keys:
        # null-safe equality: groupBy emits a threshold row for the
        # NULL group, and rows with a NULL partition key must join to
        # it — a plain equi-join would silently drop them
        k = keys[0]
        th = th.withColumnRenamed(k, "_grp")
        joined = scored.join(
            F.broadcast(th), scored[k].eqNullSafe(th["_grp"])
        ).drop("_grp")
    else:
        joined = scored.crossJoin(F.broadcast(th))
    v = F.col(value_col)

    def thr(i: int):
        t = F.element_at("_q", i + 1).cast("double")
        return F.round(t, round_to) if round_to is not None else t

    # a NULL score gets a NULL bucket (percentile ignored it when
    # computing thresholds): every when() is NULL-false, so without
    # the guard otherwise() would label unscored rows as the TOP
    # bucket — the one slice a quality filter keeps
    bucket = F.when(v.isNull(), F.lit(None).cast("string"))
    bucket = bucket.when(v < thr(0), labels[0])
    for i in range(1, len(cuts)):
        bucket = bucket.when(v < thr(i), labels[i])
    bucket = bucket.otherwise(labels[-1])
    return joined.select(*scored.columns, bucket.alias("bucket"))


def top_terms_per_doc(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    min_df: int = 1,
) -> DataFrame:
    """TF-IDF keyword extraction: the ``k`` most characteristic terms
    of every doc — (doc_id, term, tf, score, rank). Smooth idf
    (sklearn convention): idf = ln((N + 1) / (df + 1)) + 1, score =
    tf · idf rounded to 6 dp, ties broken by term so the ranking is
    engine-reproducible. ``min_df`` prunes hapax noise before
    ranking. The corpus-side sibling of the index's more-like-this
    term selection (that one reads posting stats; this one needs no
    index).

    Scale shape: tf is a map-side-combinable groupBy(doc, term); df
    is keyed on the term (skew bounded by vocabulary, not corpus);
    the single-row N aggregate broadcasts; top-k is a per-doc window
    bounded by distinct-terms-per-doc."""
    toks = ensure_parallelism(
        df.select(F.col(id_col), F.col(text_col)), factor=1
    ).select(
        F.col(id_col).alias("doc_id"),
        F.explode(ws_tokens(text_col)).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("_df"))
    if min_df > 1:
        dfreq = dfreq.filter(F.col("_df") >= min_df)
    n_docs = df.select(F.col(id_col)).distinct().agg(
        F.count("*").alias("_n")
    )
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(
                F.col("tf")
                * (
                    F.log(
                        (F.col("_n").cast("double") + 1.0)
                        / (F.col("_df").cast("double") + 1.0)
                    )
                    + 1.0
                ),
                6,
            ),
        )
    )
    w = SparkWindow.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "score", "rank")
    )


def histogram(
    df: DataFrame,
    col: str,
    bins: int = 20,
    lo: float | None = None,
    hi: float | None = None,
    group_col: str | None = None,
) -> DataFrame:
    """Fixed-width histogram of a numeric column: (bin, lo_edge,
    hi_edge, n) for every NON-EMPTY bin, bin = floor((v - lo)/width)
    clamped so v == hi lands in the last bin (the standard closed
    top edge). ``lo``/``hi`` default to the column min/max (one tiny
    aggregate job); rows outside [lo, hi] and NULLs are dropped.
    Edges round to 6 dp for engine-reproducible output. A degenerate
    range (hi == lo — e.g. a constant column under derived bounds)
    yields the well-defined single bin [lo, lo]; an empty /
    all-NULL column under derived bounds raises a clear error.

    ``group_col`` computes one histogram per group over the SAME
    explicit [lo, hi] range (required with grouping — per-group
    derived ranges would make bins incomparable across groups, which
    defeats the point of a faceted histogram).

    Scale shape: one map-side-combinable groupBy on the bin id — at
    most ``bins`` rows per group ever cross the exchange."""
    if bins < 1:
        raise ValueError("bins must be >= 1")
    if group_col is not None and (lo is None or hi is None):
        raise ValueError(
            "group_col requires explicit lo/hi (shared bins across "
            "groups)"
        )
    v = F.col(col).cast("double")
    if lo is None or hi is None:
        row = df.agg(F.min(v).alias("lo"), F.max(v).alias("hi")).first()
        if row["lo"] is None or row["hi"] is None:
            raise ValueError(
                f"cannot derive a histogram range: column {col!r} has "
                "no non-NULL values (pass lo/hi explicitly)"
            )
        lo = float(row["lo"]) if lo is None else lo
        hi = float(row["hi"]) if hi is None else hi
    if hi < lo:
        raise ValueError(f"need hi >= lo, got [{lo}, {hi}]")
    keys = [group_col] if group_col else []
    if hi == lo:
        # constant column: one bin holding every in-range row
        return (
            df.filter(v.isNotNull() & (v == lo))
            .groupBy(*keys, F.lit(0).cast("long").alias("bin"))
            .agg(F.count("*").alias("n"))
            .select(
                *keys,
                "bin",
                F.round(F.lit(float(lo)), 6).alias("lo_edge"),
                F.round(F.lit(float(hi)), 6).alias("hi_edge"),
                "n",
            )
        )
    width = (hi - lo) / bins
    b = F.least(
        F.floor((v - F.lit(float(lo))) / F.lit(float(width))),
        F.lit(bins - 1),
    ).cast("long")
    return (
        df.filter(v.isNotNull() & (v >= lo) & (v <= hi))
        .groupBy(*keys, b.alias("bin"))
        .agg(F.count("*").alias("n"))
        .select(
            *keys,
            "bin",
            F.round(F.lit(float(lo)) + F.col("bin") * F.lit(float(width)), 6)
            .alias("lo_edge"),
            F.round(
                F.lit(float(lo)) + (F.col("bin") + 1) * F.lit(float(width)),
                6,
            ).alias("hi_edge"),
            "n",
        )
    )


def group_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    quantiles: tuple[float, ...] = (0.25, 0.5, 0.75, 0.9),
) -> DataFrame:
    """EXACT per-group quantiles without buffering any group in one
    task: (group, q25, q50, ...) with discrete (lower / type-1)
    semantics — for each q, the smallest value whose cumulative count
    reaches ceil(q * n). Matches PostgreSQL ``percentile_disc`` and
    DuckDB ``quantile_disc`` exactly (convention verified empirically
    against DuckDB), so results are oracle-checkable with no float
    interpolation ambiguity.

    Scale shape — the reason this exists next to ``corpus_profile``'s
    two modes (``percentile()`` buffers each whole group on its
    reducer; ``approx_percentile`` is a t-digest estimate): repeated
    values collapse map-side in the first groupBy, so only distinct
    (group, value) pairs cross an exchange. For NUMERIC values the
    running sum is then computed TWO-LEVEL: a monotone fixed-width
    bucket (4096 cells over the group's [min, max]) splits each
    group's cumulative sum into a tiny per-(group, bucket) offset
    window plus per-(group, bucket) within-bucket windows — so a
    group with 10^9 distinct values sorts 4096 small runs in
    parallel instead of one 10^9-row run on a single reducer (the r5
    shape: a 5.4M-distinct-value lineitem price column sorted on 4
    tasks). Bucketing is derived data only — each distinct value
    lies in exactly one bucket and buckets are monotone in the
    value, so the cumulative count (and therefore every quantile) is
    bit-identical to the single-window formulation, which remains
    the fallback for non-numeric (e.g. string) value columns. NULL
    values are excluded (SQL aggregate convention).
    """
    from pyspark.sql import types as _T

    if not quantiles:
        raise ValueError("need at least one quantile")
    if any(q <= 0.0 or q > 1.0 for q in quantiles):
        raise ValueError(f"quantiles must be in (0, 1], got {quantiles}")
    v = F.col(value_col)
    vc = (
        df.filter(v.isNotNull())
        .groupBy(group_col, value_col)
        .agg(F.count("*").alias("_c"))
    )
    numeric = isinstance(
        df.schema[value_col].dataType, _T.NumericType
    )
    if numeric:
        n_buckets = 4096
        vd = v.cast("double")
        # NaN sorts greater than everything in Spark: route it to the
        # top bucket explicitly (it would poison the min/max range),
        # and keep NaN out of the range aggregate; a group that is
        # all-NaN has no mm row, hence the left join + isnan-first
        # bucket rule. ±Inf collapses the range so every value lands
        # in one bucket — still exact, just unparallelized for that
        # degenerate group.
        mm = (
            vc.filter(~F.isnan(vd))
            .groupBy(group_col)
            .agg(
                F.min(vd).alias("_lo"),
                F.max(vd).alias("_hi"),
            )
        )
        width = (F.col("_hi") - F.col("_lo")) / F.lit(float(n_buckets))
        # a range narrower than ~2e-320 underflows width to 0: such a
        # group is one bucket, like a single-value one
        bkt = (
            F.when(F.isnan(vd), F.lit(n_buckets - 1))
            .when((F.col("_hi") == F.col("_lo")) | (width == 0), F.lit(0))
            .otherwise(
                F.least(
                    F.floor((vd - F.col("_lo")) / width).cast("int"),
                    F.lit(n_buckets - 1),
                )
            )
        )
        # the group joins are null-safe: a NULL group is a group
        mm = mm.withColumnRenamed(group_col, "_g")
        vcb = vc.join(
            mm, vc[group_col].eqNullSafe(mm["_g"]), "left"
        ).select(group_col, value_col, "_c", bkt.alias("_b"))
        b_cnt = vcb.groupBy(group_col, "_b").agg(
            F.sum("_c").alias("_bc")
        )
        woff = (
            SparkWindow.partitionBy(group_col)
            .orderBy("_b")
            .rowsBetween(SparkWindow.unboundedPreceding, -1)
        )
        offs = b_cnt.select(
            F.col(group_col).alias("_g"),
            F.col("_b").alias("_ob"),
            F.coalesce(F.sum("_bc").over(woff), F.lit(0)).alias("_off"),
            F.sum("_bc")
            .over(SparkWindow.partitionBy(group_col))
            .alias("_n"),
        )
        win = (
            SparkWindow.partitionBy(group_col, "_b")
            .orderBy(value_col)
            .rowsBetween(
                SparkWindow.unboundedPreceding, SparkWindow.currentRow
            )
        )
        cum = vcb.join(
            offs,
            vcb[group_col].eqNullSafe(offs["_g"])
            & (vcb["_b"] == offs["_ob"]),
        ).select(
            group_col,
            value_col,
            (F.col("_off") + F.sum("_c").over(win)).alias("_cum"),
            "_n",
        )
    else:
        w = (
            SparkWindow.partitionBy(group_col)
            .orderBy(value_col)
            .rowsBetween(
                SparkWindow.unboundedPreceding, SparkWindow.currentRow
            )
        )
        cum = vc.select(
            group_col,
            value_col,
            F.sum("_c").over(w).alias("_cum"),
            F.sum("_c").over(SparkWindow.partitionBy(group_col)).alias("_n"),
        )
    # aliases round to integer percents (q25, q50, ...); two
    # quantiles landing on the same percent would emit duplicate
    # column names, so refuse rather than silently shadow
    names = [f"q{int(round(q * 100))}" for q in quantiles]
    if len(set(names)) != len(names):
        raise ValueError(
            f"quantile aliases collide after integer-percent "
            f"rounding: {names}; pick quantiles at least 1% apart"
        )
    aggs = []
    for q, name in zip(quantiles, names):
        tgt = F.greatest(
            F.ceil(F.lit(float(q)) * F.col("_n")), F.lit(1)
        ).cast("long")
        aggs.append(F.min(F.when(F.col("_cum") >= tgt, v)).alias(name))
    return cum.groupBy(group_col).agg(*aggs)


def pmi_bigrams(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 5,
    top_k: int = 50,
) -> DataFrame:
    """Pointwise-mutual-information collocations: the ``top_k``
    adjacent word pairs whose co-occurrence most exceeds chance —
    (w1, w2, c12, c1, c2, pmi, rank). The classic collocation /
    multi-word-expression detector (Church & Hanks 1990): with N1
    total tokens and N2 total bigrams,

        pmi = ln( (c12 · N1 · N1) / (N2 · c1 · c2) )

    computed in double in exactly that operand order so any engine
    reproduces it bit-for-bit; scores round to 6 dp BEFORE ranking
    and ties break on (w1, w2). ``min_count`` drops rare pairs whose
    PMI is all variance (standard practice — hapax pairs otherwise
    dominate the top of the list).

    Scale shape: unigram and bigram counts are map-side-combinable
    groupBys keyed on the word / pair (skew bounded by the hottest
    vocabulary item, not the corpus); the two scalar totals broadcast
    as 1-row frames; c1/c2 attach via joins keyed on the word
    (vocabulary-sized, not corpus-sized); the final top-k is a
    TakeOrdered over the pair vocabulary, never a global sort of the
    corpus."""
    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    if top_k < 1:
        raise ValueError("top_k must be >= 1")
    # no ensure_parallelism here: repartitioning the token ARRAYS
    # costs more than the 1-2-split explode it would parallelize
    # (measured 2.05 -> 2.96 s at sf1.0); the groupBy shuffle right
    # after the explode already distributes the heavy aggregation
    toks = df.select(ws_tokens(text_col).alias("_toks"))
    uni = (
        toks.select(F.explode("_toks").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    n1 = uni.agg(F.sum("c").cast("long").alias("_n1"))
    n_pairs = F.greatest(F.size("_toks") - 1, F.lit(0))
    pairs = (
        toks.select(
            F.slice(F.col("_toks"), 1, n_pairs).alias("_l"),
            F.slice(F.col("_toks"), 2, n_pairs).alias("_r"),
        )
        .select(F.explode(F.arrays_zip("_l", "_r")).alias("_p"))
        .select(F.col("_p._l").alias("w1"), F.col("_p._r").alias("w2"))
    )
    big = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    n2 = big.agg(F.sum("c12").cast("long").alias("_n2"))
    scored = (
        big.filter(F.col("c12") >= min_count)
        .join(uni.withColumnRenamed("w", "w1").withColumnRenamed("c", "c1"), "w1")
        .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("c", "c2"), "w2")
        .crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
        .withColumn(
            "pmi",
            F.round(
                F.log(
                    F.col("c12").cast("double")
                    * F.col("_n1").cast("double")
                    * F.col("_n1").cast("double")
                    / (
                        F.col("_n2").cast("double")
                        * F.col("c1").cast("double")
                        * F.col("c2").cast("double")
                    )
                ),
                6,
            ),
        )
    )
    ranked = scored.orderBy(
        F.desc("pmi"), F.asc("w1"), F.asc("w2")
    ).limit(top_k)
    w = SparkWindow.orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
    return ranked.withColumn("rank", F.row_number().over(w)).select(
        "w1", "w2", "c12", "c1", "c2", "pmi", "rank"
    )


def token_entropy(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document lexical-diversity signals — (doc_id, n_tokens,
    n_types, ttr, entropy): type-token ratio and the Shannon entropy
    of the within-doc unigram distribution in nats,

        H = ln(n) - Σ_w c_w·ln(c_w) / n

    (the factored form needs one pass over DISTINCT tokens and is
    order-insensitive up to float ulps; 6-dp rounding absorbs those).
    Low entropy at normal length flags boilerplate / keyword-stuffed
    / template pages that length filters miss — a standard web-corpus
    quality signal alongside the Gopher and C4 rules. Empty docs
    yield n_tokens = 0 with zero ttr/entropy rather than NULL.

    Scale shape: groupBy(doc, token) then groupBy(doc) — both
    map-side combinable, partition bound = tokens of the longest doc;
    zero joins, zero windows."""
    tf = (
        ensure_parallelism(
            df.select(F.col(id_col), F.col(text_col)), factor=1
        )
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(ws_tokens(text_col)).alias("w"),
        )
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("c"))
    )
    per_doc = tf.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_types"),
        F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double"))).alias(
            "_clnc"
        ),
    )
    all_ids = df.select(F.col(id_col).alias("doc_id")).distinct()
    return (
        all_ids.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("n_types", F.lit(0)).cast("long").alias("n_types"),
            F.round(
                F.when(
                    F.col("n_tokens") > 0,
                    F.col("n_types").cast("double")
                    / F.col("n_tokens").cast("double"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("ttr"),
            F.round(
                F.when(
                    F.col("n_tokens") > 0,
                    F.log(F.col("n_tokens").cast("double"))
                    - F.col("_clnc") / F.col("n_tokens").cast("double"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("entropy"),
        )
    )
