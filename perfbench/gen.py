"""Seeded inputs for the benchmark: corpus, query mix, watchlist and
mutation plan, all derived from one seed.

Documents are generated as token-id sequences over a Zipf vocabulary and
rendered to code-like text. Every vocabulary word is a lowercase
alphanumeric string, which the analyzer maps 1:1 onto a term (rendering
may capitalise a word; the analyzer lowercases it back), so the
correctness checks in ``oracle.py`` work from the token ids and never
run the program's analyzer.
"""
from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ZIPF_S = 1.07
LANGS = ["py", "js", "go", "rs", "java", "c", "md", "txt"]
LANG_WEIGHTS = np.array([30, 22, 14, 10, 9, 7, 5, 3], dtype=np.float64)
# query-string operators: a vocabulary word spelled like one would be
# parsed as syntax, not as a term
_RESERVED = {"and", "or", "not"}
_ALNUM = np.array(list("abcdefghijklmnopqrstuvwxyz0123456789"))
_SEPS = np.array([" ", " ", " ", " ", "\n", "(", ") ", ".", ", ", " = ",
                  "; ", "\n    "])


@dataclass
class Corpus:
    """Generated documents. Field token ids index ``vocab``; ``tok`` is
    the flat content token stream, document ``i`` owning
    ``tok[off[i]:off[i+1]]``."""
    vocab: np.ndarray            # object array of words
    tok: np.ndarray              # int32 flat content tokens
    off: np.ndarray              # int64 doc offsets, len n+1
    repo: np.ndarray             # object
    path: np.ndarray             # object
    commit: np.ndarray           # object
    lang: np.ndarray             # object
    content: np.ndarray          # object (rendered text)
    field_tokens: dict = field(default_factory=dict)  # field -> list[list[str]]

    @property
    def n(self) -> int:
        return len(self.off) - 1

    def frame(self) -> pd.DataFrame:
        return pd.DataFrame({"repo": self.repo, "path": self.path,
                             "commit": self.commit, "lang": self.lang,
                             "content": self.content})


def make_vocab(rng: np.random.Generator, size: int) -> np.ndarray:
    """``size`` distinct words, indexed by frequency rank. The length and
    digit tail of each word depend on its rank only, so every seed's
    corpus has the same bytes per token; the letters are seeded."""
    ranks = np.arange(size)
    lens = 3 + (ranks * 7919) % 7               # 3..9 letters
    tails = np.where(ranks % 5 == 3, ranks % 100, -1)  # 1 in 5 gets digits
    words: list[str] = []
    seen: set[str] = set()
    for r in range(size):
        while True:
            w = "".join(_ALNUM[rng.integers(0, 26, size=lens[r])])
            if tails[r] >= 0:
                w += str(tails[r])
            if w not in seen and w not in _RESERVED:
                break
        seen.add(w)
        words.append(w)
    return np.array(words, dtype=object)


def zipf_probs(size: int, s: float = ZIPF_S) -> np.ndarray:
    p = np.arange(1, size + 1, dtype=np.float64) ** -s
    return p / p.sum()


def make_corpus(seed: int, n_docs: int, vocab_size: int,
                mean_len: float, sigma: float = 0.8,
                max_len: int = 4000, n_repos: int = 40,
                doc_base: int = 0, vocab: np.ndarray | None = None
                ) -> Corpus:
    """``n_docs`` documents with log-normal lengths (median
    ``mean_len`` tokens), Zipf(``ZIPF_S``) content terms and skewed
    lang/repo values. ``doc_base`` offsets the unique file names so
    batches generated later never collide with earlier ones."""
    rng = np.random.default_rng(seed)
    if vocab is None:
        vocab = make_vocab(np.random.default_rng(seed ^ 0x5EED), vocab_size)
    V = len(vocab)
    lens = rng.lognormal(np.log(mean_len), sigma, n_docs)
    # rescale to the distribution's mean, so the corpus size in tokens
    # does not drift with the seed
    lens *= n_docs * mean_len * np.exp(sigma ** 2 / 2) / lens.sum()
    lens = np.clip(np.rint(lens), 5, max_len).astype(np.int64)
    off = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(lens, out=off[1:])
    tok = rng.choice(V, size=int(off[-1]), p=zipf_probs(V)).astype(np.int32)

    repo_p = zipf_probs(n_repos, 1.2)
    repo_id = rng.choice(n_repos, size=n_docs, p=repo_p)
    repos = np.array([f"org{r % 7}/{vocab[r + 50]}" for r in range(n_repos)],
                     dtype=object)
    lang = np.array(LANGS, dtype=object)[
        rng.choice(len(LANGS), size=n_docs, p=LANG_WEIGHTS / LANG_WEIGHTS.sum())]
    # path: two directory words from the hot end of the vocabulary, a
    # unique file name, and the language as extension
    dir_words = rng.choice(min(V, 400), size=(n_docs, 2),
                           p=zipf_probs(min(V, 400)))
    path = np.array([f"{vocab[a]}/{vocab[b]}/f{doc_base + i}.{lg}"
                     for i, (a, b, lg) in enumerate(zip(dir_words[:, 0],
                                                        dir_words[:, 1],
                                                        lang))], dtype=object)
    commit = np.array([f"{x:08x}" for x in rng.integers(0, 2**32, n_docs)],
                      dtype=object)

    # render: words joined by code-ish separators, some capitalised
    words = vocab[tok]
    cap = rng.random(tok.size) < 0.1
    if cap.any():
        words = words.copy()
        words[cap] = [w[:1].upper() + w[1:] for w in words[cap]]
    seps = _SEPS[rng.integers(0, len(_SEPS), size=tok.size)]
    pieces = np.empty(2 * tok.size, dtype=object)
    pieces[0::2] = words
    pieces[1::2] = seps
    content = np.array(["".join(pieces[2 * off[i]:2 * off[i + 1]])
                        for i in range(n_docs)], dtype=object)

    field_tokens = {
        "path": [p.replace(".", "/").split("/") for p in path],
        "repo": [repos[r].split("/") for r in repo_id],
        "lang": [[lg] for lg in lang],
    }
    return Corpus(vocab=vocab, tok=tok, off=off, repo=repos[repo_id],
                  path=path, commit=commit, lang=lang, content=content,
                  field_tokens=field_tokens)


def write_table(corpus: Corpus, out_dir: str, n_files: int) -> int:
    """Write the docs as a multi-file parquet table (the shape a real
    code table arrives in). Returns the source bytes (UTF-8 content)."""
    df = corpus.frame()
    os.makedirs(out_dir, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(df)), n_files)):
        pq.write_table(pa.Table.from_pandas(df.iloc[part],
                                            preserve_index=False),
                       os.path.join(out_dir, f"part-{i:05d}.parquet"))
    return int(sum(len(c.encode()) for c in df["content"]))


@dataclass
class Buckets:
    """df buckets of content terms: ids and the df bounds used."""
    hot: np.ndarray
    mid: np.ndarray
    rare: np.ndarray
    bounds: dict


def df_buckets(df: np.ndarray, n_docs: int) -> Buckets:
    order = np.argsort(-df, kind="stable")
    hot = order[:20]
    mid_lo, mid_hi = max(3, int(0.01 * n_docs)), max(4, int(0.08 * n_docs))
    mid = np.flatnonzero((df >= mid_lo) & (df <= mid_hi))
    rare_hi = max(3, int(0.001 * n_docs))
    rare = np.flatnonzero((df >= 1) & (df <= rare_hi))
    return Buckets(hot=hot, mid=mid, rare=rare, bounds={
        "hot_min_df": int(df[hot].min()), "mid_df": [mid_lo, mid_hi],
        "rare_df": [1, rare_hi]})


def corpus_stats(corpus: Corpus, buckets: Buckets, src_bytes: int) -> dict:
    return {"docs": corpus.n, "tokens": int(corpus.tok.size),
            "source_bytes": src_bytes, "vocabulary": int(len(corpus.vocab)),
            "vocabulary_used": int(np.unique(corpus.tok).size),
            "zipf_s": ZIPF_S, "df_buckets": buckets.bounds,
            "bucket_sizes": {"hot": int(buckets.hot.size),
                             "mid": int(buckets.mid.size),
                             "rare": int(buckets.rare.size)}}


QUERY_KINDS = ["term_hot", "term_rare", "and_mid", "or_hot", "phrase",
               "prefix", "filtered", "fielded", "facet", "count", "dismax"]


def make_queries(seed: int, corpus: Corpus, buckets: Buckets,
                 n_per_kind: int, kinds=QUERY_KINDS) -> list[dict]:
    """Distinct queries of each kind. Each is ``{"kind", "args"}`` with
    ``args`` the program's search-args dict; ``spec`` holds the token
    ids the oracle scores."""
    rng = np.random.default_rng(seed ^ 0xC0FFEE)
    V = corpus.vocab
    mid_or_hot = set(buckets.mid.tolist()) | set(buckets.hot.tolist())
    out: list[dict] = []
    seen: set[str] = set()

    def doc_tokens(i):
        return corpus.tok[corpus.off[i]:corpus.off[i + 1]]

    def add(kind, args, spec):
        key = kind + repr(sorted(args.items()))
        if key not in seen:
            seen.add(key)
            out.append({"kind": kind, "args": args, "spec": spec})
            return True
        return False

    for kind in kinds:
        made, tries = 0, 0
        while made < n_per_kind and tries < 50 * n_per_kind:
            tries += 1
            if kind == "term_hot":
                t = int(rng.choice(buckets.hot))
                ok = add(kind, {"q": V[t], "limit": 10}, {"terms": [t]})
            elif kind == "term_rare":
                t = int(rng.choice(buckets.rare))
                ok = add(kind, {"q": V[t], "limit": 10}, {"terms": [t]})
            elif kind == "and_mid":
                toks = [t for t in set(doc_tokens(int(rng.integers(corpus.n))).tolist())
                        if t in mid_or_hot and t not in set(buckets.hot.tolist())]
                if len(toks) < 2:
                    continue
                a, b = rng.choice(sorted(toks), 2, replace=False)
                ok = add(kind, {"q": f"{V[a]} {V[b]}", "limit": 10},
                         {"and": [int(a), int(b)]})
            elif kind == "or_hot":
                a, b = rng.choice(buckets.hot, 2, replace=False)
                ok = add(kind, {"q": f"{V[a]} OR {V[b]}", "limit": 10},
                         {"or": [int(a), int(b)]})
            elif kind == "phrase":
                d = doc_tokens(int(rng.integers(corpus.n)))
                if d.size < 2:
                    continue
                j = int(rng.integers(d.size - 1))
                a, b = int(d[j]), int(d[j + 1])
                if a == b or a not in mid_or_hot or b not in mid_or_hot:
                    continue
                ok = add(kind, {"q": f'"{V[a]} {V[b]}"', "limit": 10},
                         {"phrase": [a, b]})
            elif kind == "prefix":
                t = int(rng.choice(buckets.mid))
                p = V[t][:3]
                ok = add(kind, {"q": f"{p}*", "limit": 10}, {"prefix": p})
            elif kind == "filtered":
                t = int(rng.choice(buckets.mid))
                lg = str(rng.choice(LANGS[:5]))
                ok = add(kind, {"q": V[t], "filter:lang": lg, "limit": 10},
                         {"terms": [t], "lang": lg})
            elif kind == "fielded":
                i = int(rng.integers(corpus.n))
                w = corpus.field_tokens["path"][i][int(rng.integers(2))]
                ok = add(kind, {"q": f"path:{w}", "limit": 10},
                         {"field": "path", "word": w})
            elif kind == "facet":
                t = int(rng.choice(buckets.mid))
                ok = add(kind, {"q": V[t], "facet": "lang", "limit": 0},
                         {"facet_and": [t], "facet": "lang"})
            elif kind == "count":
                a, b = rng.choice(buckets.mid, 2, replace=False)
                ok = add(kind, {"q": f"{V[a]} {V[b]}"},
                         {"count_and": [int(a), int(b)]})
            elif kind == "dismax":
                i = int(rng.integers(corpus.n))
                w = corpus.field_tokens["path"][i][int(rng.integers(2))]
                ok = add(kind, {"q": w, "qfields": "content,path^2",
                                "limit": 10},
                         {"dismax": w, "boosts": {"content": 1.0,
                                                  "path": 2.0}})
            else:
                raise ValueError(kind)
            made += bool(ok)
    return out


def make_watchlist(seed: int, corpus: Corpus, buckets: Buckets,
                   n_entities: int) -> list[dict]:
    """Entities with one or two multi-word names. Name words are drawn
    across df buckets (mostly mid and rare) so matches stay selective;
    a share of names are lifted from real adjacent pairs so some match."""
    rng = np.random.default_rng(seed ^ 0xA11CE)
    V = corpus.vocab
    pools = [buckets.rare, buckets.mid, buckets.hot]
    rows = []
    for e in range(n_entities):
        names = []
        for _ in range(int(rng.integers(1, 3))):
            if rng.random() < 0.4:
                i = int(rng.integers(corpus.n))
                d = corpus.tok[corpus.off[i]:corpus.off[i + 1]]
                j = int(rng.integers(max(1, d.size - 1)))
                words = [V[t] for t in d[j:j + 2]]
            else:
                pool_of = rng.choice(3, size=2, p=[0.45, 0.45, 0.10])
                words = [V[int(rng.choice(pools[k]))] for k in pool_of]
            if len(words) == 2 and words[0] != words[1]:
                names.append(" ".join(words))
        if names:
            rows.append({"entity_id": f"e{e}", "names": names})
    return rows
