"""Aho–Corasick multi-pattern string matcher (pure Python, no deps).

Used by the deterministic corpus scan (operators/ner.py): one scanner per
Python worker process (``ner._scanner``), one pass per document, emits
*all* (overlapping) occurrences of every surface — matching the reference
ensemble's behavior of producing overlapping mentions from independent
backends (entity_recognition.py:332-349), which the conflict-resolution
operators (kg_construction.py:119-157) then arbitrate.

Standard construction: goto trie + BFS failure links + output merging
(Aho & Corasick 1975, CACM 18(6)).
"""

from __future__ import annotations

from collections import deque
from typing import Iterable, Iterator


class AhoCorasick:
    __slots__ = ("goto", "fail", "out")

    def __init__(self, patterns: Iterable[str]):
        # state 0 = root; goto is a list of dict[ch -> state]
        self.goto: list[dict[str, int]] = [{}]
        self.out: list[list[str]] = [[]]
        for pat in patterns:
            if not pat:
                continue
            state = 0
            for ch in pat:
                nxt = self.goto[state].get(ch)
                if nxt is None:
                    nxt = len(self.goto)
                    self.goto[state][ch] = nxt
                    self.goto.append({})
                    self.out.append([])
                state = nxt
            self.out[state].append(pat)

        self.fail = [0] * len(self.goto)
        queue: deque[int] = deque()
        for state in self.goto[0].values():
            queue.append(state)
        while queue:
            state = queue.popleft()
            for ch, nxt in self.goto[state].items():
                queue.append(nxt)
                f = self.fail[state]
                while f and ch not in self.goto[f]:
                    f = self.fail[f]
                self.fail[nxt] = self.goto[f].get(ch, 0)
                if self.fail[nxt] == nxt:
                    self.fail[nxt] = 0
                self.out[nxt] = self.out[nxt] + self.out[self.fail[nxt]]

    def finditer(self, text: str) -> Iterator[tuple[int, int, str]]:
        """Yields (start, end, pattern) for every occurrence."""
        state = 0
        for i, ch in enumerate(text):
            while state and ch not in self.goto[state]:
                state = self.fail[state]
            state = self.goto[state].get(ch, 0)
            if self.out[state]:
                end = i + 1
                for pat in self.out[state]:
                    yield end - len(pat), end, pat

    def present(self, text: str) -> set[str]:
        """Patterns occurring anywhere in text."""
        return {pat for _, _, pat in self.finditer(text)}


def _is_word_char(ch: str) -> bool:
    return ch.isalnum() or ch == "_"


def word_bounded(text: str, start: int, end: int) -> bool:
    """True when text[start:end] sits on word boundaries (the regex
    ``(?<!\\w)…(?!\\w)`` check, applied post-match)."""
    if start > 0 and _is_word_char(text[start - 1]) and _is_word_char(text[start]):
        return False
    if end < len(text) and _is_word_char(text[end - 1]) and _is_word_char(text[end]):
        return False
    return True


class FindScanner:
    """Exact drop-in for :class:`AhoCorasick` on SMALL pattern sets.

    One C-speed ``str.find`` sweep per pattern (CPython's two-way search
    runs at ~GB/s) instead of one pure-Python automaton pass per *char*
    (~MB/s with dict lookups): for a 200-surface gazetteer this is ~10x
    per document, and the engine's mapInPandas scans are exactly that
    shape. The automaton keeps winning asymptotically — one pass
    regardless of pattern count — so ``make_scanner`` crosses over at
    ``SMALL_PATTERN_SET``. Yields the same (start, end, pattern)
    occurrence *set* (including overlaps); iteration order differs
    (by-pattern here, by-position there), which no consumer depends on.
    """

    __slots__ = ("patterns",)

    def __init__(self, patterns: Iterable[str]):
        self.patterns = [p for p in dict.fromkeys(patterns) if p]

    def finditer(self, text: str) -> Iterator[tuple[int, int, str]]:
        for pat in self.patterns:
            start = text.find(pat)
            while start != -1:
                yield start, start + len(pat), pat
                start = text.find(pat, start + 1)

    def present(self, text: str) -> set[str]:
        """Patterns occurring in text — early-exits per pattern (``in``)."""
        return {p for p in self.patterns if p in text}


SMALL_PATTERN_SET = 2048


def make_scanner(patterns: Iterable[str]):
    """Pattern-count-adaptive multi-string scanner (same finditer/present
    contract either way)."""
    pats = [p for p in dict.fromkeys(patterns) if p]
    return FindScanner(pats) if len(pats) <= SMALL_PATTERN_SET else AhoCorasick(pats)
