"""Independent BM25 oracle and top-k comparator.

Plain Python over the generated corpus; nothing here imports the engine.
It mirrors the scoring SQL of ``__spark_entry__.py`` (BM25F with B=0.75,
K1=1.2, idf = ln(N / (df + 1)) + 1, exact field lengths) but tokenizes with
the engine's Unicode pattern, because the corpus vocabulary holds ``café``
and ``über`` and the ASCII pattern of that SQL would split them.

Query specs are plain tuples, so the oracle never sees an engine AST:
``("term", (t,))``, ``("or", (a, b, ...))``, ``("and", (a, b, ...))`` and
``("andnot", (pos,), (neg,))``.
"""

from __future__ import annotations

import math
import re
from collections import Counter
from typing import Dict, Iterable, List, Sequence, Tuple

TOKEN = re.compile(r"[\w\*]+(\.?[\w\*]+)*", re.UNICODE)
STOP_WORDS = frozenset(
    """a an and are as at be by can for from have if in is it may not of on
    or tbd that the this to us we when will with yet you your""".split()
)
B, K1 = 0.75, 1.2
ORACLE_SHAPES = ("term", "or", "and", "andnot")


def tokens(text: str) -> List[str]:
    """Lowercased, stop-filtered terms of ``text`` (minimum length 2)."""
    out = []
    for m in TOKEN.finditer(text):
        t = m.group(0).lower()
        if len(t) >= 2 and t not in STOP_WORDS:
            out.append(t)
    return out


class Oracle:
    """BM25 over ``docs`` = [(uid, text)]; docids are the ranks of the
    sorted pairs.  A uid may occur more than once, as the old and the new
    version of an updated document do in an index that keeps both."""

    def __init__(self, docs: Iterable[Tuple[str, str]]):
        pairs = sorted(docs)
        self.uids = [uid for uid, _ in pairs]
        self.postings: Dict[str, Dict[int, int]] = {}
        self.lengths: List[int] = []
        for docid, (_, text) in enumerate(pairs):
            toks = tokens(text)
            self.lengths.append(len(toks))
            for t, tf in Counter(toks).items():
                self.postings.setdefault(t, {})[docid] = tf
        self.n = len(self.uids)
        self.avgfl = (sum(self.lengths) / self.n) if self.n else 0.0

    def postings_rows(self) -> int:
        return sum(len(p) for p in self.postings.values())

    def lexicon(self) -> Dict[str, int]:
        """term -> document frequency."""
        return {t: len(p) for t, p in self.postings.items()}

    def _term_scores(self, term: str) -> Dict[int, float]:
        post = self.postings.get(term, {})
        idf = math.log(self.n / (len(post) + 1)) + 1.0
        out = {}
        for docid, tf in post.items():
            fl = self.lengths[docid]
            out[docid] = idf * (tf * (K1 + 1.0)) / (
                tf + K1 * ((1.0 - B) + B * fl / self.avgfl)
            )
        return out

    def ranked(self, spec: Tuple) -> List[Tuple[str, float]]:
        """Every matching doc as (uid, score), score desc then docid asc."""
        shape, terms = spec[0], spec[1]
        per_term = [self._term_scores(t) for t in dict.fromkeys(terms)]
        scores: Dict[int, float] = {}
        for ts in per_term:
            for d, s in ts.items():
                scores[d] = scores.get(d, 0.0) + s
        if shape == "and":
            scores = {d: s for d, s in scores.items()
                      if all(d in ts for ts in per_term)}
        elif shape == "andnot":
            neg = self.postings.get(spec[2][0], {})
            scores = {d: s for d, s in scores.items() if d not in neg}
        elif shape not in ("term", "or"):
            raise ValueError(f"oracle has no shape {shape!r}")
        order = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
        return [(self.uids[d], s) for d, s in order]


def compare_topk(engine: Sequence[Tuple[str, float]],
                 oracle: Sequence[Tuple[str, float]], k: int = 10,
                 tol: float = 1e-9) -> List[str]:
    """Problems found comparing an engine top-k with the oracle ranking.

    Tie-robust: rank i must carry the oracle's i-th score, and every returned
    uid must be a match whose oracle score equals the returned score, so two
    docs with equal scores may trade places but no other difference passes.
    A (uid, score) pair may be returned as often as the oracle holds it.
    """
    def close(a: float, b: float) -> bool:
        return abs(a - b) <= tol * max(1.0, abs(b))

    problems = []
    want = list(oracle[:k])
    if len(engine) != len(want):
        problems.append(f"returned {len(engine)} rows, oracle has {len(want)}")
    unused: Dict[str, List[float]] = {}
    for uid, s in oracle:
        unused.setdefault(uid, []).append(s)
    for i, ((uid, s), (_, ws)) in enumerate(zip(engine, want)):
        if not close(s, ws):
            problems.append(f"rank {i}: score {s!r} != oracle {ws!r}")
        scores = unused.get(uid)
        j = next((j for j, os_ in enumerate(scores or []) if close(s, os_)), None)
        if not scores:
            problems.append(f"rank {i}: {uid} does not match the query, "
                            "or is returned too often")
        elif j is None:
            problems.append(f"rank {i}: {uid} scored {s!r}, oracle {scores!r}")
        else:
            del scores[j]
    return problems
