"""Seeded query streams, generated from the corpus alone.

Terms are drawn Zipf-skewed (p ∝ 1/rank) from the lexicon ranked by
document frequency, as the benchmark's own tokenizer sees it.  The shapes
are bench.py's twelve, one query each and equal weight as there, plus a
query string sent through ``QueryParser.parse``.  The repeat share is
stipulated, not taken from any query log: the fifth query of every group
of five re-issues the group's first, and fresh queries are redrawn until
they are new, so exactly one query in five is an exact repeat.  Fresh
queries still share terms with earlier ones, so the searcher's per-term
stats cache is hit on them too.
"""

from __future__ import annotations

import bisect
import itertools
import random
from typing import Dict, List, Sequence, Tuple

from oracle import tokens

SHAPES = ("term", "or", "and", "phrase", "prefix", "andnot", "wildcard",
          "head_term", "dismax", "fuzzy", "termrange", "nested", "parsed")
REPEAT_EVERY = 5  # the 5th query of each group of five repeats the 1st
#: queries after which the shape and repeat sequence starts over: every
#: shape is issued fresh four times and repeated once
PERIOD = len(SHAPES) * REPEAT_EVERY
HEAD_TERMS = 20  # head_term draws from the most frequent terms
FRESH_TRIES = 100


class QueryGen:
    def __init__(self, docs: Sequence[Tuple[str, str]], lexicon: Dict[str, int],
                 seed: int):
        self.rng = random.Random(seed)
        self.docs = docs
        plain = [t for t in lexicon if t.isalpha()]
        self.ranked = sorted(plain, key=lambda t: (-lexicon[t], t))
        self.cum = list(itertools.accumulate(
            1.0 / (r + 1) for r in range(len(self.ranked))))
        self.sorted_lex = sorted(lexicon)

    def term(self) -> str:
        x = self.rng.random() * self.cum[-1]
        return self.ranked[bisect.bisect_left(self.cum, x)]

    def distinct(self, n: int) -> Tuple[str, ...]:
        out: List[str] = []
        while len(out) < n:
            t = self.term()
            if t not in out:
                out.append(t)
        return tuple(out)

    def bigram(self) -> Tuple[str, str]:
        while True:
            toks = tokens(self.rng.choice(self.docs)[1])
            if len(toks) >= 2:
                i = self.rng.randrange(len(toks) - 1)
                if toks[i] != toks[i + 1]:
                    return toks[i], toks[i + 1]

    def spec(self, shape: str) -> Tuple:
        r = self.rng
        if shape in ("term", "prefix", "wildcard", "fuzzy"):
            t = self.term()
            if shape == "term":
                return ("term", (t,))
            if shape == "prefix":
                return ("prefix", (t[:3] if len(t) > 3 else t[:2],))
            if shape == "wildcard":
                return ("wildcard", (t[0] + "*" + t[-2:],))
            i = r.randrange(1, len(t))
            c = r.choice([x for x in "aeioubcdgklmnprstz" if x != t[i]])
            return ("fuzzy", (t[:i] + c + t[i + 1:],))
        if shape == "head_term":
            head = min(HEAD_TERMS, len(self.ranked))
            return ("head_term", (self.ranked[r.randrange(head)],))
        if shape == "or":
            return ("or", self.distinct(3))
        if shape in ("and", "dismax"):
            return (shape, self.distinct(2))
        if shape == "andnot":
            a, b = self.distinct(2)
            return ("andnot", (a,), (b,))
        if shape == "nested":
            a, b, c = self.distinct(3)
            return ("nested", (a, b), (c,))
        if shape == "phrase":
            return ("phrase", self.bigram())
        if shape == "termrange":
            i = r.randrange(len(self.sorted_lex) - 21)
            return ("termrange", (self.sorted_lex[i], self.sorted_lex[i + 20]))
        if shape == "parsed":
            a, b = self.distinct(2)
            w1, w2 = self.bigram()
            s = r.choice([f"{a} {b}", f"{a} OR {b}", f"{a} AND NOT {b}",
                          f'"{w1} {w2}"', f"{a[:3]}*"])
            return ("parsed", (s,))
        raise ValueError(shape)

    def fresh(self, shape: str, issued) -> Tuple:
        """A spec of ``shape`` not issued before, if FRESH_TRIES draws find
        one; otherwise the last draw, which then counts as a repeat."""
        for _ in range(FRESH_TRIES):
            s = self.spec(shape)
            if s not in issued:
                break
        return s

    def stream(self, n: int) -> List[Tuple[Tuple, bool]]:
        """n (spec, is_repeat) pairs.  Fresh queries take the shapes in a
        fixed round-robin order, and the last query of every group of
        REPEAT_EVERY re-issues the group's first, so runs on different seeds
        share one shape sequence and repeat share; only the terms differ."""
        out: List[Tuple[Tuple, bool]] = []
        issued = set()
        k = 0
        for i in range(n):
            if i % REPEAT_EVERY == REPEAT_EVERY - 1:
                s = out[i - (REPEAT_EVERY - 1)][0]
            else:
                s = self.fresh(SHAPES[k % len(SHAPES)], issued)
                k += 1
            out.append((s, s in issued))
            issued.add(s)
        return out
