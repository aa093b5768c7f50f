"""Correctness oracle for the benchmark, computed apart from the engine.

Nothing here imports ``searchengine_spark``: the tokenizer, the corpus
statistics and the BM25 ranking are written again from their textbook
definitions, so a fault in the engine cannot hide in a shared helper.

Tokenizer: the reference rule cited in ``functions/tokenize.py``
(SearchEngine Indexer/Program.cs:94-121). Letters accumulate into a token,
any other character ends it, and a token is kept only when it is all ASCII
and 1-20 characters long; kept tokens are lowercased.

Ranking: Okapi BM25 with ``idf = ln((N - df + 0.5) / (df + 0.5) + 1)``,
k1 = 1.2, b = 0.75, a query term's weight multiplied by its count in the
query, ties broken by (score desc, doc_id asc).
"""

from __future__ import annotations

import math
import re
from collections import Counter
from dataclasses import dataclass

import numpy as np

K1 = 1.2
B = 0.75
MAX_TOKEN_LEN = 20
#: relative tolerance for score equality between the engine and the oracle
REL_TOL = 1e-9

_ASCII_LETTERS = re.compile(r"[A-Za-z]+")


def tokenize(text: str | None) -> list[str]:
    """Tokens of ``text`` under the reference rule."""
    if not text:
        return []
    if text.isascii():
        # for ASCII text the letters are exactly [A-Za-z]
        runs = _ASCII_LETTERS.findall(text)
    else:
        runs, cur = [], []
        for ch in text:
            if ch.isalpha():
                cur.append(ch)
            elif cur:
                runs.append("".join(cur))
                cur = []
        if cur:
            runs.append("".join(cur))
    return [r.lower() for r in runs if r.isascii() and len(r) <= MAX_TOKEN_LEN]


def idf(df: int, n_docs: int) -> float:
    return math.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)


def close(a: float, b: float, rel: float = REL_TOL) -> bool:
    return abs(a - b) <= rel * max(abs(a), abs(b))


@dataclass
class Oracle:
    """Corpus statistics and postings, with doc ids assigned in
    (conv_id, turn_idx) order starting at 0."""

    conv_ids: list[str]
    turn_idxs: list[int]
    texts: list[str | None]
    dl: np.ndarray
    df: dict[str, int]
    cf: dict[str, int]
    postings: dict[str, tuple[np.ndarray, np.ndarray]]

    @property
    def n_docs(self) -> int:
        return len(self.texts)

    @property
    def sum_dl(self) -> int:
        return int(self.dl.sum())

    @property
    def avgdl(self) -> float:
        return self.sum_dl / self.n_docs if self.n_docs else 0.0

    @property
    def text_bytes(self) -> int:
        return sum(len(t.encode("utf-8")) for t in self.texts if t)

    def lexicon(self) -> list[str]:
        """Terms by df descending, then term ascending."""
        return sorted(self.df, key=lambda t: (-self.df[t], t))

    def scores(self, query: str) -> np.ndarray:
        """BM25 score of every doc for ``query`` (0 where no term matches)."""
        acc = np.zeros(self.n_docs, dtype=np.float64)
        n = self.n_docs
        avgdl = self.avgdl
        for term, qf in Counter(tokenize(query)).items():
            if term not in self.postings:
                continue
            docs, tfs = self.postings[term]
            w = idf(self.df[term], n) * tfs * (K1 + 1.0) / (
                tfs + K1 * (1.0 - B + B * self.dl[docs] / avgdl))
            acc[docs] += qf * w
        return acc

    def topk(self, scores: np.ndarray, k: int) -> list[tuple[int, float]]:
        hit = np.flatnonzero(scores > 0)
        order = np.lexsort((hit, -scores[hit]))[:k]
        return [(int(hit[i]), float(scores[hit[i]])) for i in order]


def build_oracle(conv_ids, turn_idxs, texts) -> Oracle:
    """Oracle over a corpus given as three parallel sequences."""
    order = sorted(range(len(texts)), key=lambda i: (conv_ids[i], turn_idxs[i]))
    conv_ids = [conv_ids[i] for i in order]
    turn_idxs = [int(turn_idxs[i]) for i in order]
    texts = [texts[i] for i in order]
    dl = np.zeros(len(texts), dtype=np.int64)
    lists: dict[str, tuple[list[int], list[int]]] = {}
    for doc, text in enumerate(texts):
        toks = tokenize(text)
        dl[doc] = len(toks)
        for term, tf in Counter(toks).items():
            ds, ts = lists.setdefault(term, ([], []))
            ds.append(doc)
            ts.append(tf)
    postings = {t: (np.asarray(ds, dtype=np.int64), np.asarray(ts, dtype=np.float64))
                for t, (ds, ts) in lists.items()}
    return Oracle(
        conv_ids=conv_ids, turn_idxs=turn_idxs, texts=texts, dl=dl,
        df={t: len(ds) for t, (ds, _) in postings.items()},
        cf={t: int(ts.sum()) for t, (_, ts) in postings.items()},
        postings=postings,
    )


def compare_topk(got: list[tuple[int, float]], scores: np.ndarray,
                 want: list[tuple[int, float]]) -> str | None:
    """None when ``got`` (the engine's ranked (doc_id, score) rows) matches
    the oracle's top-k ``want``; otherwise the first difference.

    Doc ids must be rank-identical and scores equal within ``REL_TOL``;
    where the oracle scores of two docs lie within that tolerance of each
    other, either may take the rank. ``scores`` is the oracle's score of
    every doc for the same query."""
    if len(got) != len(want):
        return f"{len(got)} rows, oracle has {len(want)}"
    if len({d for d, _ in got}) != len(got):
        return "duplicate doc_id in result"
    for rank, ((gd, gs), (wd, ws)) in enumerate(zip(got, want), 1):
        if not close(gs, ws):
            return f"rank {rank}: score {gs!r}, oracle {ws!r}"
        if gd != wd and not (0 <= gd < len(scores) and close(scores[gd], ws)):
            return f"rank {rank}: doc {gd}, oracle doc {wd}"
    return None


def compare_build(oracle: Oracle, n_docs: int, sum_dl: int,
                  term_stats: dict[str, tuple[int, int]],
                  doc_store: list[tuple[int, str, int, str | None]]) -> str | None:
    """None when a built index matches the oracle, else the first difference.

    ``term_stats`` maps term -> (df, cf); ``doc_store`` holds
    (doc_id, conv_id, turn_idx, text) rows in any order."""
    if n_docs != oracle.n_docs:
        return f"N {n_docs}, oracle {oracle.n_docs}"
    if sum_dl != oracle.sum_dl:
        return f"sum_dl {sum_dl}, oracle {oracle.sum_dl}"
    if set(term_stats) != set(oracle.df):
        extra = sorted(set(term_stats) ^ set(oracle.df))[:5]
        return f"lexicon differs, e.g. {extra}"
    for term, (df, cf) in term_stats.items():
        if (df, cf) != (oracle.df[term], oracle.cf[term]):
            return (f"term {term!r}: df/cf {(df, cf)}, "
                    f"oracle {(oracle.df[term], oracle.cf[term])}")
    if len(doc_store) != oracle.n_docs:
        return f"doc store has {len(doc_store)} rows, oracle {oracle.n_docs}"
    rows = sorted(doc_store, key=lambda r: (r[1], r[2]))
    for doc, (doc_id, conv_id, turn_idx, text) in enumerate(rows):
        if (doc_id, conv_id, turn_idx) != (doc, oracle.conv_ids[doc],
                                           oracle.turn_idxs[doc]):
            return (f"doc store row {doc}: {(doc_id, conv_id, turn_idx)}, "
                    f"oracle {(doc, oracle.conv_ids[doc], oracle.turn_idxs[doc])}")
        if (text or "") != (oracle.texts[doc] or ""):
            return f"doc store text differs at doc {doc}"
    return None
