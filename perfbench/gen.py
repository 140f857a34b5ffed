"""Seeded input generator for the benchmark.

Everything the program sees is made here from one integer seed: the
`(repo, path, commit, lang, content)` code corpus, the ingest deltas,
the bag-of-words and SDM query files, and the runner parameter files.
The same seed gives byte-identical files.

Corpus shape: every file draws its length uniformly from 60-180 tokens
and each token from a Zipf(1) law over a 50,000-term vocabulary. Term
strings are a seeded permutation of pseudo-words, so two seeds hash
their hot terms into different segment buckets.

Key layout keeps three orders identical, which the oracle relies on:
`repo` and `path` are fixed-width, so sorting the rows by
`(repo, path, commit)` (the program's dense doc_id order), sorting by
the program's `ext_id` string and sorting by the oracle's
`'doc' || lpad(doc_id)` all agree. The parquet is written in that
order, so a row's position IS its doc_id.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50_000
MIN_TOKENS, MAX_TOKENS = 60, 180
LANGS = ("py", "java", "go", "js")
FILES_PER_REPO = 200
# Zipf ranks each query slot draws from (0-based). A "common" term has
# a document frequency below N/2, so its BM25 idf is not floored to 0;
# a "rare" term is present in the corpus but in well under 1 % of files.
COMMON_RANKS = (20, 60)
MID_RANKS = (200, 1_000)
RARE_RANKS = (3_000, 10_000)
SEPARATORS = np.array([" ", " ", " ", "(", ")", ".", "\n", " = ", ", "])

_CONS = "bcdfghjklmnprstvz"
_VOWS = "aeiou"


def vocabulary(rng: np.random.Generator) -> np.ndarray:
    """VOCAB distinct pseudo-words (consonant-vowel syllables plus a
    base-36 tail) in seeded rank order. No word is an English stopword:
    every word ends in a digit or 'q'."""
    words = []
    for i in range(VOCAB):
        a, b = divmod(i, len(_CONS) * len(_VOWS))
        syl = _CONS[b % len(_CONS)] + _VOWS[b // len(_CONS)]
        words.append(f"{syl}{np.base_repr(a, 36).lower()}q")
    return np.array(words, dtype=object)[rng.permutation(VOCAB)]


def _zipf_cdf() -> np.ndarray:
    w = 1.0 / np.arange(1, VOCAB + 1)
    return np.cumsum(w / w.sum())


class Corpus:
    """A seeded corpus plus what the query generator needs from it."""

    def __init__(self, seed: int, n_files: int):
        rng = np.random.default_rng(seed)
        self.seed = seed
        self.vocab = vocabulary(rng)
        self.cdf = _zipf_cdf()
        keys = [(f"r{i // FILES_PER_REPO:05d}",
                 f"src/m{i % FILES_PER_REPO:06d}") for i in range(n_files)]
        self.rows = self._files(rng, keys, generation=0)
        self.rank_counts = np.zeros(VOCAB, dtype=np.int64)
        for ranks in self._ranks:
            np.add.at(self.rank_counts, ranks, 1)
        self.next_path = n_files

    def _files(self, rng: np.random.Generator,
               keys: list[tuple[str, str]], generation: int) -> list[dict]:
        lens = rng.integers(MIN_TOKENS, MAX_TOKENS + 1, size=len(keys))
        flat = np.searchsorted(self.cdf, rng.random(int(lens.sum())))
        flat = np.minimum(flat, VOCAB - 1)
        seps = SEPARATORS[rng.integers(0, len(SEPARATORS),
                                       size=len(flat))]
        words = self.vocab[flat]
        langs = rng.integers(0, len(LANGS), size=len(keys))
        rows, self._ranks, off = [], [], 0
        for (repo, stem), n, lang in zip(keys, lens, langs):
            toks, sp = words[off:off + n], seps[off:off + n]
            self._ranks.append(flat[off:off + n])
            off += n
            content = "".join(t + s for t, s in zip(toks, sp))
            commit = hashlib.sha1(
                f"{self.seed}/{repo}/{stem}/{generation}".encode()
            ).hexdigest()
            rows.append({"repo": repo,
                         "path": f"{stem}.{LANGS[lang]}",
                         "commit": commit, "lang": LANGS[lang],
                         "content": content})
        return rows

    def delta(self, rng: np.random.Generator, generation: int,
              n_new: int, n_recommit: int,
              candidates: list[dict]) -> tuple[list[dict], list[int]]:
        """One crawl delta: `n_new` files at new paths plus `n_recommit`
        of `candidates` re-committed with fresh content (a new commit
        hash, so a new doc key). Returns the delta rows and the indexes
        of the re-committed candidates."""
        new_keys = []
        for _ in range(n_new):
            i = self.next_path
            self.next_path += 1
            new_keys.append((f"r{i // FILES_PER_REPO:05d}",
                             f"src/m{i % FILES_PER_REPO:06d}"))
        picks = sorted(int(p) for p in rng.choice(
            len(candidates), size=n_recommit, replace=False))
        old = [candidates[p] for p in picks]
        fresh = self._files(rng, new_keys, generation)
        redo = self._files(rng, [(r["repo"], r["path"].rsplit(".", 1)[0])
                                 for r in old], generation)
        for r, o in zip(redo, old):   # a re-commit keeps path and lang
            r["path"], r["lang"] = o["path"], o["lang"]
        return fresh + redo, picks

    def pick_terms(self, rng: np.random.Generator, n: int,
                   band: tuple[int, int]) -> list[str]:
        lo, hi = band
        ranks = np.arange(lo, hi)
        ranks = ranks[self.rank_counts[lo:hi] > 0]
        return [str(self.vocab[r]) for r in rng.choice(ranks, size=n)]


def sort_rows(rows: list[dict]) -> list[dict]:
    """Rows in the program's doc_id order (see module docstring)."""
    return sorted(rows, key=lambda r: (r["repo"], r["path"], r["commit"]))


def write_parquet(rows: list[dict], path: str) -> None:
    """Write rows as a code-corpus parquet file."""
    cols = ("repo", "path", "commit", "lang", "content")
    pq.write_table(pa.table({c: [r[c] for r in rows] for c in cols}), path)


def query_triples(corpus: Corpus, rng: np.random.Generator,
                  n: int) -> list[tuple[str, str, str]]:
    """n (common, mid, rare) term triples."""
    c = corpus.pick_terms(rng, n, COMMON_RANKS)
    m = corpus.pick_terms(rng, n, MID_RANKS)
    r = corpus.pick_terms(rng, n, RARE_RANKS)
    return list(zip(c, m, r))


def bow_query(t: tuple[str, str, str]) -> str:
    return " ".join(t)


def sdm_query(t: tuple[str, str, str]) -> str:
    """BM25 SDM shape: the bag of words plus ordered (#near/1) and
    unordered (#window/8) arms over each adjacent term pair, all under
    one #sum."""
    c, m, r = t
    return (f"#sum( {c} {m} {r} #near/1( {c} {m} ) #near/1( {m} {r} ) "
            f"#window/8( {c} {m} ) #window/8( {m} {r} ) )")


def write_query_file(path: str, queries: dict[str, str]) -> None:
    with open(path, "w") as f:
        for qid, q in queries.items():
            f.write(f"{qid}:{q}\n")


def write_param_file(path: str, **params: str) -> None:
    with open(path, "w") as f:
        for k, v in params.items():
            f.write(f"{k}={v}\n")
