"""Backtracking NFA for full MATCH_RECOGNIZE pattern semantics.

Reference surface: Beam SQL compiles MATCH_RECOGNIZE to an NFA over
per-key ordered rows (``sdks/java/extensions/sql/.../impl/nfa/NFA.java``).
Round-2 shipped only the deterministic subset (mutually-exclusive
DEFINEs, classified by first match and run through a host regex). This
module supplies the general case the reference NFA handles:

- a row may satisfy SEVERAL symbol predicates (non-mutually-exclusive
  DEFINEs); which symbol it takes is decided by pattern position under
  SQL's leftmost-greedy preference (quantifiers prefer consuming, the
  first alternative wins ties) — the same preference order Calcite's NFA
  explores;
- predicates may depend on the match built so far (``B AS B.price <
  LAST(A.price)`` chains) via a per-transition callback that sees the
  partial symbol bindings;
- no alphabet cap: symbols are names, not single chars.

Exploration dedups on (state, row) — the first visit is by the
highest-priority path, so pruning preserves leftmost-greedy semantics
exactly like a Pike-VM thread table. For match-state-DEPENDENT
predicates the pruned re-visits could in principle carry different
bindings; predicates are therefore evaluated along the greedy
exploration path (documented; Calcite resolves the same ambiguity by
thread priority).

The matcher is pure Python and only runs inside the per-key
``applyInArrow`` kernel (``plans/cep.py``) — the 100-TB shape is
unchanged: one shuffle on PARTITION BY, Arrow batches in, the NFA walks
a per-key row window that SQL MATCH_RECOGNIZE semantics require to be
co-located anyway.
"""

from __future__ import annotations

import re
from collections.abc import Callable

_QUANT = r"(?:[?*+]|\{\d+(?:,\d*)?\})\??|"
_TOKEN = re.compile(
    r"\s+|(?P<sym>[A-Za-z_][A-Za-z_0-9]*)(?P<quant>" + _QUANT + r")"
    r"|(?P<punct>[()|])(?P<pquant>" + _QUANT + r")"
)


def parse_quant(q: str) -> tuple[int, int | None, bool]:
    """Quantifier text -> (min, max, greedy); max None = unbounded.
    Supports the full Calcite/reference NFA.java quantifier surface:
    ``? * +``, bounded ``{n} {n,} {n,m}``, and reluctant variants
    (trailing ``?``: ``*? +? ?? {n,m}?``)."""
    greedy = True
    if len(q) > 1 and q.endswith("?"):
        greedy, q = False, q[:-1]
    if q == "?":
        return 0, 1, greedy
    if q == "*":
        return 0, None, greedy
    if q == "+":
        return 1, None, greedy
    m = re.fullmatch(r"\{(\d+)(?:,(\d*))?\}", q)
    if not m:
        raise ValueError(f"bad quantifier {q!r}")
    mn = int(m.group(1))
    if m.group(2) is None:  # {n}
        return mn, mn, greedy
    if m.group(2) == "":  # {n,}
        return mn, None, greedy
    mx = int(m.group(2))
    if mx < mn:
        raise ValueError(f"bad quantifier bounds {q!r}")
    return mn, mx, greedy


# -- pattern AST --------------------------------------------------------------


def _tokenize(pattern: str) -> list[tuple[str, str]]:
    out, pos = [], 0
    while pos < len(pattern):
        m = _TOKEN.match(pattern, pos)
        if not m:
            raise ValueError(f"bad pattern token at: {pattern[pos:]!r}")
        pos = m.end()
        if m.group("sym"):
            out.append(("sym", m.group("sym")))
            if m.group("quant"):
                out.append(("quant", m.group("quant")))
        elif m.group("punct"):
            out.append((m.group("punct"), m.group("punct")))
            if m.group("pquant"):
                out.append(("quant", m.group("pquant")))
    return out


def parse_pattern(pattern: str):
    """Parse 'A (B|C)+ D? E{2,4} F*?' into an AST of ('sym', name) /
    ('seq', [...]) / ('alt', [...]) / ('quant', node, (min, max, greedy))."""
    toks = _tokenize(pattern)
    i = 0

    def peek():
        return toks[i][0] if i < len(toks) else None

    def parse_alt():
        nonlocal i
        branches = [parse_seq()]
        while peek() == "|":
            i += 1
            branches.append(parse_seq())
        return branches[0] if len(branches) == 1 else ("alt", branches)

    def parse_seq():
        nonlocal i
        items = []
        while peek() not in (None, ")", "|"):
            items.append(parse_atom())
        if not items:
            raise ValueError(f"empty branch in pattern {pattern!r}")
        return items[0] if len(items) == 1 else ("seq", items)

    def parse_atom():
        nonlocal i
        kind = peek()
        if kind == "sym":
            node = ("sym", toks[i][1])
            i += 1
        elif kind == "(":
            i += 1
            node = parse_alt()
            if peek() != ")":
                raise ValueError(f"unbalanced '(' in pattern {pattern!r}")
            i += 1
        else:
            raise ValueError(f"unexpected token {toks[i]!r} in pattern {pattern!r}")
        if peek() == "quant":
            node = ("quant", node, parse_quant(toks[i][1]))
            i += 1
        return node

    ast = parse_alt()
    if i != len(toks):
        raise ValueError(f"trailing tokens in pattern {pattern!r}")
    return ast


def pattern_symbols(ast) -> set[str]:
    kind = ast[0]
    if kind == "sym":
        return {ast[1]}
    if kind == "quant":
        return pattern_symbols(ast[1])
    return set().union(*(pattern_symbols(c) for c in ast[1]))


# -- Thompson construction with priority-ordered transitions ------------------


class NFA:
    """States are ints; ``states[s]`` is a PRIORITY-ORDERED list of
    transitions ``('sym', name, tgt)`` (consume one row matching ``name``)
    or ``('eps', None, tgt)``."""

    def __init__(self, pattern: str):
        self.ast = parse_pattern(pattern)
        self.symbols = pattern_symbols(self.ast)
        self.states: list[list[tuple]] = []
        self.start, self.accept = self._build(self.ast)

    def _new(self) -> int:
        self.states.append([])
        return len(self.states) - 1

    def _build(self, ast) -> tuple[int, int]:
        kind = ast[0]
        if kind == "sym":
            s, a = self._new(), self._new()
            self.states[s].append(("sym", ast[1], a))
            return s, a
        if kind == "seq":
            first_s, prev_a = self._build(ast[1][0])
            for child in ast[1][1:]:
                cs, ca = self._build(child)
                self.states[prev_a].append(("eps", None, cs))
                prev_a = ca
            return first_s, prev_a
        if kind == "alt":
            s, a = self._new(), self._new()
            for child in ast[1]:  # declaration order == priority order
                cs, ca = self._build(child)
                self.states[s].append(("eps", None, cs))
                self.states[ca].append(("eps", None, a))
            return s, a
        if kind == "quant":
            # general bounded repetition (NFA.java quantifier surface):
            # min mandatory copies chained, then either an unbounded loop
            # or (max-min) optional copies; transition ORDER encodes
            # greedy (consume first) vs reluctant (skip first).
            mn, mx, greedy = ast[2]
            start = self._new()
            a = self._new()
            cur = start
            for _ in range(mn):
                fs, fa = self._build(ast[1])
                self.states[cur].append(("eps", None, fs))
                cur = fa
            if mx is None:
                loop = self._new()
                self.states[cur].append(("eps", None, loop))
                fs, fa = self._build(ast[1])
                if greedy:
                    self.states[loop].append(("eps", None, fs))
                    self.states[loop].append(("eps", None, a))
                else:
                    self.states[loop].append(("eps", None, a))
                    self.states[loop].append(("eps", None, fs))
                self.states[fa].append(("eps", None, loop))
            else:
                for _ in range(mx - mn):
                    fs, fa = self._build(ast[1])
                    nxt = self._new()
                    if greedy:
                        self.states[cur].append(("eps", None, fs))
                        self.states[cur].append(("eps", None, a))
                    else:
                        self.states[cur].append(("eps", None, a))
                        self.states[cur].append(("eps", None, fs))
                    self.states[fa].append(("eps", None, nxt))
                    cur = nxt
                self.states[cur].append(("eps", None, a))
            return start, a
        raise AssertionError(f"unknown AST node {ast!r}")

    def match_at(
        self,
        lo: int,
        n: int,
        can_consume: Callable[[str, int, tuple | None], bool],
        require_consume: bool = False,
        probe: list | None = None,
    ) -> tuple[int, list[tuple[int, str]]] | None:
        """Greedy match anchored at row ``lo``; rows are indices
        ``lo..n-1``. ``can_consume(sym, row_idx, trail)`` decides whether
        the row satisfies the symbol's DEFINE — ``trail`` is the reversed
        linked list of ``(sym, row_idx, parent)`` consumed so far, for
        match-state-dependent predicates.

        ``require_consume`` rejects the zero-width match (the host
        engine's retry-non-empty-at-same-position step). ``probe``, if
        given a one-element list, has ``probe[0]`` set True when any
        branch AT OR ABOVE the returned match's priority tried to
        consume the row at index ``n`` — i.e. the outcome could change
        if more rows arrive (the streaming stability signal; branches
        below the returned match's priority are never explored, so a
        clean return means the match is final whatever comes next).

        Returns ``(end_row_exclusive, [(row_idx, sym), ...])`` for the
        leftmost-greedy match, or None."""
        seen: set[tuple[int, int]] = set()
        # explicit DFS; push reversed so the highest-priority transition
        # pops first. Entries: (state, pos, trail-node).
        stack: list[tuple[int, int, tuple | None]] = [(self.start, lo, None)]
        while stack:
            state, pos, trail = stack.pop()
            if (state, pos) in seen:
                continue
            seen.add((state, pos))
            if state == self.accept:
                if require_consume and pos == lo:
                    continue  # keep backtracking into a non-empty match
                out = []
                t = trail
                while t is not None:
                    out.append((t[1], t[0]))
                    t = t[2]
                out.reverse()
                return pos, out
            for kind, sym, tgt in reversed(self.states[state]):
                if kind == "eps":
                    stack.append((tgt, pos, trail))
                elif pos < n:
                    if can_consume(sym, pos, trail):
                        stack.append((tgt, pos + 1, (sym, pos, trail)))
                elif probe is not None:
                    probe[0] = True  # wanted a row beyond the buffer
        return None

    def first_symbols(self) -> tuple[set[str], bool]:
        """(symbols that can consume a match's FIRST row, pattern
        nullable?) — the eps-closure of the start state. Used by the
        kernel to pre-skip scan positions with a vectorized anchor mask
        when every first-set symbol has a COLUMN define (a match_at
        call at a masked-out position would only allocate and fail)."""
        seen, stack, first, nullable = {self.start}, [self.start], set(), False
        while stack:
            s = stack.pop()
            if s == self.accept:
                nullable = True
            for kind, sym, tgt in self.states[s]:
                if kind == "sym":
                    first.add(sym)
                elif tgt not in seen:
                    seen.add(tgt)
                    stack.append(tgt)
        return first, nullable

    def finditer(
        self,
        n: int,
        can_consume: Callable[[str, int, tuple | None], bool],
        start_mask=None,
    ):
        """Non-overlapping greedy matches over rows 0..n-1 — AFTER MATCH
        SKIP PAST LAST ROW. Yields (lo, hi, [(row_idx, sym), ...]).

        Zero-width handling mirrors the host regex engine (the batch
        kernel's fast path, so both paths stay interchangeable): a
        zero-width match at ``i`` is retried at the SAME position with
        the empty match disallowed — ``A*?`` over ``A`` still yields the
        one-row match — and only a non-empty failure advances the
        scan. ``start_mask`` (bool per row), when given, skips positions
        where no first-set symbol matches — pure pruning, only valid
        for non-nullable patterns (see ``first_symbols``)."""
        i = 0
        while i < n:
            if start_mask is not None and not start_mask[i]:
                i += 1
                continue
            m = self.match_at(i, n, can_consume)
            if m is not None and m[0] == i:  # zero-width: retry non-empty
                m = self.match_at(i, n, can_consume, require_consume=True)
            if m is None:
                i += 1
                continue
            hi, assignment = m
            yield i, hi, assignment
            i = hi


def trail_bindings(trail: tuple | None) -> dict[str, list[int]]:
    """Unwind a trail node into ``{symbol: [row indices]}`` — the partial
    bindings a match-state-dependent predicate inspects."""
    out: dict[str, list[int]] = {}
    t = trail
    while t is not None:
        out.setdefault(t[0], []).append(t[1])
        t = t[2]
    for v in out.values():
        v.reverse()
    return out
