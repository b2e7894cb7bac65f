"""Seeded input generators: code corpus, query stream, snapshot diffs.

Everything here is a pure function of its arguments (the seed among
them), so one seed always gives the same inputs. The generators do not
import ``codeindex_spark``: no change to the program can alter what the
benchmark feeds it.
"""

from __future__ import annotations

import functools
import hashlib

import numpy as np
import pandas as pd

LANGS = {
    "cs": "csharp",
    "py": "python",
    "js": "javascript",
    "java": "java",
    "go": "go",
    "sql": "sql",
}
HOT_TERMS = ("get", "string", "return")
_STEMS = (
    "index", "writer", "reader", "token", "segment", "posting", "query",
    "score", "field", "cache", "buffer", "stream", "merge", "commit",
    "path", "file", "batch", "block", "config", "snapshot", "manifest",
    "parse", "plan", "node", "leaf", "range", "offset", "delta", "count",
    "value", "result", "lookup", "entry", "table", "filter", "shard",
    "worker", "task", "queue", "event", "store", "lock", "pool", "checkpoint",
)
_MODIFIERS = (
    "", "async", "local", "global", "raw", "next", "prev", "max", "min",
    "safe", "fast", "lazy", "base", "temp", "old", "new", "total", "last",
)
_PKGS = ("core", "index", "search", "query", "store", "util", "net", "io",
         "api", "model", "sched", "cache", "log", "conf")
VOCAB_SIZE = 4000
ZIPF_A = 1.2
N_REPOS = 6
DUP_EVERY = 17  # every DUP_EVERY-th doc repeats an earlier doc's content
QUERY_SHAPES = ("selective", "hot", "bool", "phrase", "prefix", "fuzzy",
                "filtered")


def rng_for(seed: int, *key: object) -> np.random.Generator:
    """An independent stream per (seed, key): stable under reordering."""
    h = hashlib.sha256(("|".join(map(str, key)) + f"#{seed}").encode())
    return np.random.default_rng(int.from_bytes(h.digest()[:8], "big"))


def _camel(words) -> str:
    return "".join(w[:1].upper() + w[1:] for w in words)


@functools.lru_cache(maxsize=1)
def vocabulary() -> tuple[str, ...]:
    """Distinct identifiers, the first ones the most frequent. Each is a
    CamelCase or snake_case compound of two or three stems so that
    whole-identifier, camel-part and snake-part tokens all occur. The
    same for every seed: the seed picks the docs, queries and diffs
    drawn from it. A vocabulary drawn per seed moved the corpus bytes by
    ~6% between seeds, and every size and time metric with them."""
    rng = rng_for(0, "vocab")
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < VOCAB_SIZE:
        n = int(rng.integers(2, 4))
        parts = [str(rng.choice(_STEMS)) for _ in range(n)]
        mod = str(rng.choice(_MODIFIERS))
        if mod:
            parts.insert(0, mod)
        word = _camel(parts) if rng.random() < 0.6 else "_".join(parts)
        if rng.random() < 0.5:
            word = word[:1].lower() + word[1:]
        if word.lower() not in seen:
            seen.add(word.lower())
            out.append(word)
    return tuple(out)


def _zipf_ranks(rng: np.random.Generator, n: int, size: int) -> np.ndarray:
    # Zipf over [0, size): redraw the out-of-range tail so the mass
    # stays on the vocabulary
    r = rng.zipf(ZIPF_A, n) - 1
    bad = r >= size
    while bad.any():
        r[bad] = rng.zipf(ZIPF_A, int(bad.sum())) - 1
        bad = r >= size
    return r


def _line(rng: np.random.Generator, vocab: tuple[str, ...]) -> str:
    kind = rng.random()
    ids = [vocab[i] for i in _zipf_ranks(rng, 3, len(vocab))]
    if kind < 0.40:  # hot-term line: the posting-list skew
        hot = [HOT_TERMS[i] for i in rng.integers(0, 3, int(rng.integers(1, 4)))]
        words = hot + ids[:2]
        rng.shuffle(words)
        return " ".join(words)
    if kind < 0.60:  # method call: CamelCase and punctuation
        return f"{ids[0]}.{ids[1]}({ids[2]});"
    if kind < 0.75:  # assignment with snake_case
        return f"{ids[0]} = {ids[1]}_{ids[2].lower()}"
    if kind < 0.90:  # plain identifiers
        return " ".join(ids)
    if kind < 0.95:
        return ""
    return f"// {ids[0]} {ids[1]} todo"


def corpus(seed: int, n_docs: int, first_id: int = 0,
           tag: str = "") -> pd.DataFrame:
    """Rows (repo, path, commit, lang, content). Every ``DUP_EVERY``-th
    doc copies the content of an earlier doc, so exact-duplicate
    clusters exist; ``first_id``/``tag`` give fresh paths for added
    docs in a snapshot diff."""
    vocab = vocabulary()
    exts = list(LANGS)
    rows = []
    contents: list[str] = []
    for j in range(n_docs):
        i = first_id + j
        rng = rng_for(seed, "doc", tag, i)
        ext = exts[int(rng.integers(0, len(exts)))]
        pkg = _PKGS[int(rng.integers(0, len(_PKGS)))]
        name = vocab[int(_zipf_ranks(rng, 1, len(vocab))[0])]
        path = f"src/{pkg}/{name}_{tag}{i}.{ext}"
        repo = f"repo{i % N_REPOS:02d}"
        if j and j % DUP_EVERY == 0:
            content = contents[int(rng.integers(0, j))]
        else:
            n_lines = int(rng.integers(4, 30))
            content = "\n".join(_line(rng, vocab) for _ in range(n_lines))
        contents.append(content)
        commit = "c" + hashlib.sha256(f"{seed}|{repo}|{path}|0".encode()).hexdigest()[:12]
        rows.append((repo, path, commit, LANGS[ext], content))
    return pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])


# One pass of the search stream. A fixed shape order keeps the mix the
# same on every seed; only the terms change.
SEARCH_CYCLE = ("selective", "hot", "selective", "bool", "phrase",
                "selective", "prefix", "hot", "fuzzy", "filtered")


def queries(seed: int, shapes, salt: str) -> list[dict]:
    """One query per entry of ``shapes``, each ``{"shape", "text",
    "repo", "lang"}``; repo/lang are set only for the ``filtered``
    shape. Identifiers are drawn Zipf over the corpus vocabulary without
    repeats, so they miss the engine's dictionary cache, while the hot
    terms repeat and hit it: the share of hits is the same on every
    seed."""
    rng = rng_for(seed, "queries", salt)
    # whole-token terms only: a snake_case identifier is split by the
    # tokenizer, a CamelCase one is kept as one token
    lower = [v.lower() for v in vocabulary() if "_" not in v]
    used: set[int] = set()

    def fresh() -> str:
        if len(used) >= len(lower) // 2:
            raise ValueError("query stream longer than the vocabulary allows")
        while True:
            i = int(_zipf_ranks(rng, 1, len(lower))[0])
            if i not in used:
                used.add(i)
                return lower[i]

    out = []
    for shape in shapes:
        a, b, c = fresh(), fresh(), fresh()
        hot = HOT_TERMS[int(rng.integers(0, 3))]
        q = {"shape": shape, "repo": None, "lang": None}
        if shape == "selective":
            q["text"] = a
        elif shape == "hot":
            other = HOT_TERMS[int(rng.integers(0, 3))]
            q["text"] = hot if rng.random() < 0.5 else f"{hot} OR {other}"
        elif shape == "bool":
            q["text"] = f"({a} OR {b}) AND {hot} NOT {c}"
        elif shape == "phrase":
            q["text"] = f'"{hot} {a}"'
        elif shape == "prefix":
            q["text"] = a[: max(3, len(a) // 2)] + "*"
        elif shape == "fuzzy":
            k = int(rng.integers(1, len(a) - 1))
            q["text"] = a[:k] + a[k + 1:] + "~1"
        elif shape == "filtered":
            q["text"] = b
            if rng.random() < 0.5:
                q["lang"] = list(LANGS.values())[int(rng.integers(0, len(LANGS)))]
            else:
                q["repo"] = f"repo{int(rng.integers(0, N_REPOS)):02d}"
        else:
            raise ValueError(f"unknown query shape {shape!r}")
        out.append(q)
    return out


def snapshot_diff(seed: int, current: pd.DataFrame, step: int,
                  churn: float) -> tuple[pd.DataFrame, dict]:
    """The next full snapshot after ``current``: ~``churn`` of the rows
    change. Updates keep (repo, path), take a new commit and gain a
    marker token; deletes drop rows; adds bring new paths. Returns the
    snapshot and ``{"updated", "deleted", "added", "marker"}`` (paths
    and the marker token) for the correctness checks."""
    rng = rng_for(seed, "snapshot", step)
    n = len(current)
    k = max(3, int(round(n * churn)))
    picked = rng.choice(n, size=2 * (k // 3), replace=False)
    upd, dele = picked[: k // 3], picked[k // 3:]
    marker = f"zqmark{seed % 1000}x{step}"
    snap = current.copy()
    for i in upd:
        snap.iat[i, 4] = snap.iat[i, 4] + f"\n{marker} = return"
        snap.iat[i, 2] = "c" + hashlib.sha256(
            f"{seed}|{snap.iat[i, 1]}|{step}".encode()).hexdigest()[:12]
    adds = corpus(seed, k - 2 * (k // 3), first_id=step * 100_000, tag=f"s{step}_")
    snap = pd.concat([snap.drop(index=snap.index[dele]), adds], ignore_index=True)
    return snap, {
        "updated": set(current["path"].iloc[upd]),
        "deleted": set(current["path"].iloc[dele]),
        "added": set(adds["path"]),
        "marker": marker,
    }
