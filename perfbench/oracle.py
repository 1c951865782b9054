"""Independent answers for the benchmark's correctness checks.

BM25 (k1=1.2, b=0.75, Lucene idf, the formula of ``tests/oracle.py``)
is computed with numpy from the generated token ids, never through the
program's analyzer, codec or executor. Collection statistics follow the
index's pinned conventions: every document not yet compacted away
counts toward N, df and avgdl (tombstoned ones included, as with
Lucene soft deletes), avgdl divides by all such documents, and only
live documents are answers.
"""
from __future__ import annotations

import numpy as np

K1 = 1.2
B = 0.75
TOL = 1e-9
MAX_EXPANSIONS = 50   # prefix rewrite: top terms by df
PERC_SLOP = 2
NAME_BOOST = 2.0


class Docs:
    """The documents an index holds: content token ids plus the tokens
    of the path/repo/lang fields, with live/compacted state."""

    def __init__(self, V: int):
        self.V = V
        self.toks: list[np.ndarray] = []
        self.fields: dict[str, list[list[str]]] = {"path": [], "repo": [],
                                                   "lang": []}
        self.lang: list[str] = []
        self.live = np.zeros(0, dtype=bool)
        self.in_stats = np.zeros(0, dtype=bool)

    def add(self, corpus):
        """Append every document of ``corpus``; ids continue in order."""
        for i in range(corpus.n):
            self.toks.append(corpus.tok[corpus.off[i]:corpus.off[i + 1]])
            for f in self.fields:
                self.fields[f].append(corpus.field_tokens[f][i])
            self.lang.append(corpus.lang[i])
        self.live = np.r_[self.live, np.ones(corpus.n, dtype=bool)]
        self.in_stats = np.r_[self.in_stats, np.ones(corpus.n, dtype=bool)]

    def delete(self, ids):
        self.live[np.asarray(ids, dtype=np.int64)] = False

    def compact(self):
        self.in_stats &= self.live


class Scorer:
    """BM25 over a ``Docs`` snapshot."""

    def __init__(self, docs: Docs, vocab: np.ndarray):
        self.docs = docs
        self.vocab = vocab
        self.word_id = {w: i for i, w in enumerate(vocab.tolist())}
        stats = np.flatnonzero(docs.in_stats)
        self.live = docs.live.copy()
        self.N = stats.size
        n = len(docs.toks)
        lens = np.array([t.size for t in docs.toks], dtype=np.int64)
        self.dl = {"content": lens.astype(np.float64)}
        self.avgdl = {"content": lens[stats].sum() / self.N}
        # content postings: term-major (term, doc) with tf
        doc_of = np.repeat(np.arange(n, dtype=np.int64), lens)
        flat = (np.concatenate(docs.toks).astype(np.int64) if n
                else np.zeros(0, np.int64))
        keys, tf = np.unique(flat * n + doc_of, return_counts=True)
        self.p_term = keys // n
        self.p_doc = keys % n
        self.p_tf = tf.astype(np.float64)
        self.t_start = np.searchsorted(self.p_term, np.arange(docs.V + 1))
        in_stats_p = docs.in_stats[self.p_doc]
        self.df = np.bincount(self.p_term[in_stats_p],
                              minlength=docs.V).astype(np.float64)
        # field postings: word -> (docs, tfs)
        self.fpost: dict[str, dict[str, tuple]] = {}
        self.fdf: dict[str, dict[str, int]] = {}
        for f, toks in docs.fields.items():
            dl = np.array([len(t) for t in toks], dtype=np.float64)
            self.dl[f] = dl
            self.avgdl[f] = dl[stats].sum() / self.N
            acc: dict[str, dict[int, int]] = {}
            for d, words in enumerate(toks):
                for w in words:
                    acc.setdefault(w, {}).setdefault(d, 0)
                    acc[w][d] += 1
            self.fpost[f] = {w: (np.array(list(m.keys()), dtype=np.int64),
                                 np.array(list(m.values()), dtype=np.float64))
                             for w, m in acc.items()}
            self.fdf[f] = {w: int(docs.in_stats[p[0]].sum())
                           for w, p in self.fpost[f].items()}

    # -- primitives ----------------------------------------------------------
    def idf(self, df):
        return np.log(1.0 + (self.N - df + 0.5) / (df + 0.5))

    def tfnorm(self, tf, dl, field):
        return tf / (tf + K1 * (1 - B + B * dl / self.avgdl[field]))

    def postings(self, t: int):
        lo, hi = self.t_start[t], self.t_start[t + 1]
        return self.p_doc[lo:hi], self.p_tf[lo:hi]

    def term(self, t: int) -> dict[int, float]:
        d, tf = self.postings(t)
        s = self.idf(self.df[t]) * self.tfnorm(tf, self.dl["content"][d],
                                               "content")
        return dict(zip(d.tolist(), s.tolist()))

    def field_term(self, field: str, word: str) -> dict[int, float]:
        if word not in self.fpost[field]:
            return {}
        d, tf = self.fpost[field][word]
        s = self.idf(self.fdf[field][word]) * self.tfnorm(
            tf, self.dl[field][d], field)
        return dict(zip(d.tolist(), s.tolist()))

    def phrase(self, a: int, b: int) -> dict[int, float]:
        da, _ = self.postings(a)
        db, _ = self.postings(b)
        out = {}
        idf = self.idf(self.df[a]) + self.idf(self.df[b])
        for d in np.intersect1d(da, db).tolist():
            t = self.docs.toks[d]
            tf = int(np.count_nonzero((t[:-1] == a) & (t[1:] == b)))
            if tf:
                out[d] = float(idf * self.tfnorm(
                    float(tf), self.dl["content"][d], "content"))
        return out

    def prefix_terms(self, p: str) -> list[int]:
        vocab = self.vocab
        cand = [t for t in range(self.docs.V)
                if self.df[t] > 0 and vocab[t].startswith(p)]
        cand.sort(key=lambda t: (-self.df[t], vocab[t]))
        return cand[:MAX_EXPANSIONS]

    # -- query semantics -----------------------------------------------------
    def scores(self, spec: dict) -> dict[int, float]:
        if "terms" in spec:
            s = self.term(spec["terms"][0])
            if "lang" in spec:
                s = {d: v for d, v in s.items()
                     if self.docs.lang[d] == spec["lang"]}
        elif "and" in spec:
            maps = [self.term(t) for t in spec["and"]]
            common = set(maps[0]).intersection(*maps[1:])
            s = {d: sum(m[d] for m in maps) for d in common}
        elif "or" in spec:
            s = {}
            for t in spec["or"]:
                for d, v in self.term(t).items():
                    s[d] = s.get(d, 0.0) + v
        elif "phrase" in spec:
            s = self.phrase(*spec["phrase"])
        elif "prefix" in spec:
            s = {}
            for t in self.prefix_terms(spec["prefix"]):
                for d, v in self.term(t).items():
                    s[d] = s.get(d, 0.0) + v
        elif "field" in spec:
            s = self.field_term(spec["field"], spec["word"])
        elif "dismax" in spec:
            w, boosts = spec["dismax"], spec["boosts"]
            parts = [{d: boosts["content"] * v for d, v in
                      self.term(self.word_id[w]).items()}
                     if w in self.word_id else {},
                     {d: boosts["path"] * v
                      for d, v in self.field_term("path", w).items()}]
            s = {}
            for m in parts:
                for d, v in m.items():
                    s[d] = max(s.get(d, 0.0), v)
        else:
            raise ValueError(spec)
        return {d: v for d, v in s.items() if self.live[d]}

    def match_count(self, terms: list[int]) -> int:
        sets = [set(self.postings(t)[0].tolist()) for t in terms]
        return sum(1 for d in set.intersection(*sets) if self.live[d])

    def facet(self, t: int, field: str) -> dict[str, int]:
        out: dict[str, int] = {}
        for d in self.postings(t)[0].tolist():
            if self.live[d]:
                v = self.docs.lang[d]
                out[v] = out.get(v, 0) + 1
        return out


def check_topk(got: list[tuple[int, float]], want: dict[int, float],
               k: int) -> str | None:
    """None when ``got`` (doc, score) pairs are a correct top-k of
    ``want``: every score exact to TOL, length min(k, |want|), scores
    non-increasing, and no unreturned doc outscoring the last hit.
    Ties at the cut may resolve either way (their order depends on the
    program's doc ids, which the oracle does not model)."""
    if len(got) != min(k, len(want)):
        return f"returned {len(got)} hits, expected {min(k, len(want))}"
    seen = set()
    prev = float("inf")
    for d, s in got:
        if d not in want:
            return f"doc {d} is not a match"
        if abs(want[d] - s) > TOL:
            return f"doc {d} score {s!r} != {want[d]!r}"
        if s > prev + TOL:
            return "scores not in descending order"
        prev = s
        seen.add(d)
    if got:
        floor = got[-1][1]
        for d, v in want.items():
            if d not in seen and v > floor + TOL:
                return f"doc {d} ({v!r}) outscores the last hit ({floor!r})"
    return None


def percolate_expected(corpus, watch: list[dict], slop=PERC_SLOP):
    """(doc row, entity_id) -> (score, sorted matched names) by a direct
    positional check of each two-word name against each document."""
    word_id = {w: i for i, w in enumerate(corpus.vocab.tolist())}
    names = [(e["entity_id"], n, [word_id[w] for w in n.split()])
             for e in watch for n in e["names"]]
    out: dict[tuple, tuple] = {}
    for r in range(corpus.n):
        t = corpus.tok[corpus.off[r]:corpus.off[r + 1]]
        pos = {}
        for p, tok in enumerate(t.tolist()):
            pos.setdefault(tok, []).append(p)
        for eid, name, (a, b) in names:
            pa, pb = pos.get(a), pos.get(b)
            if not pa or not pb:
                continue
            anchors_b = np.array(pb) - 1
            if any(np.min(np.abs(anchors_b - x)) <= slop for x in pa):
                sc, ms = out.get((r, eid), (0.0, []))
                out[(r, eid)] = (sc + NAME_BOOST, ms + [name])
    return {k: (v[0], sorted(v[1])) for k, v in out.items()}
