"""MATCH_RECOGNIZE-style complex event processing (CEP) on DataFrames.

Reference surface: Beam SQL's ``BeamMatchRel`` compiles SQL
``MATCH_RECOGNIZE`` to an NFA over per-key ordered rows
(``sdks/java/extensions/sql/.../impl/rel/BeamMatchRel.java`` + the
``impl/cep/`` operator set and ``impl/nfa/NFA.java``). Spark has no
native equivalent (SURVEY.md §2.8), so this is one of the few genuinely
custom operators.

Spark-first design (not a port of the NFA):
- Symbol predicates are Catalyst ``Column`` expressions, evaluated
  JVM-side inside whole-stage codegen during the scan — the Python
  boundary sees one char (plus one bool per symbol) per row.
- Keys whose rows each satisfy at most ONE symbol run the fast path: the
  classifier chars form a string and the PATTERN (symbols with ``? * +``
  quantifiers and ``|`` alternation) compiles to a host regex;
  ``finditer`` yields greedy, non-overlapping matches == AFTER MATCH
  SKIP PAST LAST ROW semantics.
- Keys with AMBIGUOUS rows (a row satisfying several DEFINEs) — or any
  match-state-dependent callable DEFINE — run the real leftmost-greedy
  backtracking NFA (``plans/nfa.py``), the general semantics of the
  reference's ``impl/nfa/NFA.java``, including cross-symbol references
  like ``B AS B.price < LAST(A.price)``.
- The per-key run is an ``applyInArrow``: one shuffle on the partition
  keys, state-free. Spark ships each key's rows as Arrow and would turn a
  pandas result straight back into Arrow, so the kernel reads numpy
  columns off the ``pa.Table`` and returns a ``pa.Table`` of the declared
  schema; no pandas frame is built per key. At 100 TB the only scale
  hazard is a single giant key (all rows of one key sit in one task) —
  same contract as SQL MATCH_RECOGNIZE's PARTITION BY everywhere.

Both kernels — batch ``match_recognize`` and the incremental
``match_recognize_stream`` — share one front end (``_compile``: DEFINE /
PATTERN / MEASURES / SUBSET / AFTER MATCH SKIP validation, the classifier
column and the output schema), one per-match emitter (``_match_rows``
over the ONE ROW evaluator ``_one_row_values`` and the ALL ROWS
evaluator ``_running_measure_values``) and one NFA scan with its AFTER
MATCH SKIP restart (``_stable_scan`` / ``_restart``).

Measures supported (``SYM=None`` means any row of the match; ``SYM``
may also be a SUBSET name, ranging over its members' rows):
``("count", SYM)`` (rows) and ``("count", SYM, col)`` (non-null values of
``col`` on SYM's rows — SQL ``COUNT(Sym.col)``); ``("first"|"last", SYM,
col[, n])`` with an optional LOGICAL OFFSET ``n``; the aggregates
``("sum"|"avg"|"min"|"max", SYM, col)`` (nulls skipped); plus
``match_number`` implicitly and, with ``with_classifier=True``, the ONE
ROW CLASSIFIER() (the last matched row's symbol). Under
``all_rows=True`` an optional trailing ``"running"`` (default — prefix
scan up to the current row) or ``"final"`` (whole-match value on every
row) picks the measure mode, and every row carries its classifier.
"""

from __future__ import annotations

import re
import string
from datetime import date
from decimal import Decimal
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .nfa import _TOKEN, NFA, parse_quant, trail_bindings


def _sym_chars(define: dict) -> dict[str, str]:
    """One classifier char per DEFINE symbol. The first 26 use A-Z (keeps
    plans debuggable); beyond that, Unicode private-use chars — the round-2
    26-symbol cap is lifted."""
    chars = {}
    for i, name in enumerate(define):
        chars[name] = (
            string.ascii_uppercase[i] if i < 26 else chr(0xE000 + i - 26)
        )
    return chars


_MEASURE_KINDS = ("first", "last", "count", "sum", "avg", "min", "max")


def _norm_spec(name: str, spec: tuple) -> tuple:
    """Canonicalize a measure spec to ``(kind, sym, col, offset, mode)``.

    Accepted surface: ``("count", SYM[, col])``; ``(kind, SYM, col)`` for
    first/last/sum/avg/min/max; plus optional trailing elements,
    type-distinguished: an int LOGICAL OFFSET (first/last only — SQL
    ``FIRST(Sym.col, n)`` / ``LAST(Sym.col, n)``, n rows in from the
    mapped ends, NULL when the symbol maps fewer than n+1 rows) and a
    str mode ``"running"`` / ``"final"`` (ALL ROWS measures). Unknown
    kinds, unrecognized modes (a typo like ``"finale"`` must raise, not
    silently mean running — ADVICE r6), negative offsets, or offsets on
    non-navigation kinds all raise."""
    kind = spec[0]
    if kind not in _MEASURE_KINDS:
        raise ValueError(f"measure {name!r}: unknown measure kind {kind!r}")
    sym = spec[1]
    col, off, mode = None, 0, None
    rest = list(spec[2:])
    if kind == "count":
        if rest and not isinstance(rest[0], (int, bool)) and rest[0] not in (
            "running",
            "final",
        ):
            col = rest.pop(0)
    else:
        if not rest or not isinstance(rest[0], str):
            raise ValueError(f"measure {name!r}: {kind} needs a column name")
        col = rest.pop(0)
    for x in rest:
        if isinstance(x, bool):
            raise ValueError(f"measure {name!r}: unrecognized spec element {x!r}")
        if isinstance(x, int):
            if kind not in ("first", "last"):
                raise ValueError(
                    f"measure {name!r}: offset argument is only valid on "
                    f"FIRST/LAST, not {kind.upper()}"
                )
            if x < 0:
                raise ValueError(f"measure {name!r}: offset must be >= 0, got {x}")
            off = x
        elif x is None:
            continue
        elif x in ("running", "final"):
            mode = x
        else:
            raise ValueError(
                f"measure {name!r}: unrecognized spec element {x!r} "
                "(mode must be 'running' or 'final')"
            )
    return (kind, sym, col, off, mode)


_AGG_KINDS = ("sum", "avg", "min", "max")

#: ALL ROWS batch-emitter engagement floor (matched rows per key): the
#: vectorized path's fixed numpy setup only pays for itself on big keys;
#: below this the per-match row loop is faster. Module-level so tests
#: can force either path.
_ALL_ROWS_BATCH_MIN = 256


def _running_measure_values(specs, arrs, pairs):
    """Per-spec value list for ALL ROWS PER MATCH, one value per matched
    row. RUNNING (default) = prefix scan up to the current row; FINAL =
    the whole-match value everywhere (== the running value at the last
    row, for every supported measure kind). ``pairs`` is the match's
    ordered ``(row_index, symbol_name)`` attribution; ``arrs`` maps
    column name -> indexable values. Shared by the batch kernel and the
    streaming kernel (r8 — decided streaming matches are final, so
    per-row emission is sound)."""
    per_spec = []
    for spec in specs:
        kind, sym, col, off, mode = spec
        mode = mode or "running"
        vals, cnt, cur, seen, acc = [], 0, None, False, 0
        hits: list = []  # hit values, kept only for offset nav
        for idx, sname in pairs:
            hit = sym is None or (
                sname == sym if isinstance(sym, str) else sname in sym
            )
            if kind == "count":
                if hit and (col is None or not pd.isna(arrs[col][idx])):
                    cnt += 1
                vals.append(cnt)
            elif kind == "first":
                if off:
                    if hit and len(hits) <= off:
                        hits.append(arrs[col][idx])
                    vals.append(hits[off] if len(hits) > off else None)
                else:
                    if hit and not seen:
                        cur, seen = arrs[col][idx], True
                    vals.append(cur)
            elif kind == "last":
                if off:
                    if hit:
                        hits.append(arrs[col][idx])
                    vals.append(hits[-1 - off] if len(hits) > off else None)
                else:
                    if hit:
                        cur = arrs[col][idx]
                    vals.append(cur)
            elif kind in _AGG_KINDS:
                v = arrs[col][idx]
                if hit and not pd.isna(v):
                    cnt += 1
                    if kind in ("sum", "avg"):
                        acc += v
                    elif cur is None:
                        cur = v
                    elif kind == "min":
                        cur = min(cur, v)
                    else:
                        cur = max(cur, v)
                if not cnt:
                    vals.append(None)
                elif kind == "sum":
                    vals.append(acc)
                elif kind == "avg":
                    vals.append(float(acc) / cnt)
                else:
                    vals.append(cur)
            else:
                raise ValueError(f"unknown measure kind {kind!r}")
        if mode == "final" and vals:
            vals = [vals[-1]] * len(vals)
        per_spec.append(vals)
    return per_spec


def _one_row_values(fe, lo, hi, arrs, syms, assignment):
    """ONE ROW PER MATCH cells of the match over rows ``[lo, hi)``:
    CLASSIFIER() when ``fe.with_classifier``, then one value per measure
    of ``fe.specs``. ``arrs`` maps column name -> indexable values of the
    key's ordered rows. Symbol attribution comes from the NFA's
    ``assignment`` (``[(row, symbol), ...]``) when given — rows taken by
    callable defines carry no classifier char — else from ``syms``, the
    classifier-char string (C-level scans). Shared by the batch kernel's
    per-match path and the streaming kernel."""
    sym_chars = fe.sym_chars
    if assignment is not None:
        pos_by_sym: dict[str, list[int]] = {}
        for idx, s in assignment:
            pos_by_sym.setdefault(s, []).append(idx)
    vals = []
    if fe.with_classifier:
        # CLASSIFIER() under ONE ROW PER MATCH: the LAST row's symbol
        vals.append(
            assignment[-1][1] if assignment else fe.name_by_char[syms[hi - 1]]
        )
    for kind, sym, col, off, _mode in fe.specs:
        if kind in _AGG_KINDS or isinstance(sym, frozenset) or off:
            # generic path: ordered row indices of the match belonging
            # to sym (a name, a SUBSET frozenset, or None = every row)
            if sym is None:
                idxs = range(lo, hi)
            elif assignment is None:
                chars = {
                    sym_chars[s] for s in ((sym,) if isinstance(sym, str) else sym)
                }
                idxs = [i for i in range(lo, hi) if syms[i] in chars]
            else:
                names = (sym,) if isinstance(sym, str) else sym
                idxs = sorted(i for s in names for i in pos_by_sym.get(s, ()))
            if kind == "count":
                if col is None:
                    vals.append(len(idxs))
                else:
                    a = arrs[col]
                    vals.append(sum(1 for i in idxs if not pd.isna(a[i])))
                continue
            if kind in ("first", "last"):
                if len(idxs) <= off:
                    i = -1
                else:
                    i = idxs[off] if kind == "first" else idxs[-1 - off]
                vals.append(arrs[col][i] if i >= 0 else None)
                continue
            a = arrs[col]
            xs = [a[i] for i in idxs if not pd.isna(a[i])]
            if not xs:
                vals.append(None)
            elif kind == "sum":
                vals.append(sum(xs))
            elif kind == "avg":
                vals.append(float(sum(xs)) / len(xs))
            elif kind == "min":
                vals.append(min(xs))
            else:
                vals.append(max(xs))
            continue
        if kind == "count":
            if col is not None:
                # COUNT(Sym.col): non-null col values among Sym's rows
                if assignment is None:
                    ch = sym_chars[sym] if sym is not None else None
                    idxs = (
                        i for i in range(lo, hi) if ch is None or syms[i] == ch
                    )
                else:
                    idxs = (
                        pos_by_sym.get(sym, ())
                        if sym is not None
                        else (i for i, _ in assignment)
                    )
                a = arrs[col]
                vals.append(sum(1 for i in idxs if not pd.isna(a[i])))
            elif sym is None:
                vals.append(hi - lo)
            elif assignment is None:
                vals.append(syms.count(sym_chars[sym], lo, hi))
            else:
                vals.append(len(pos_by_sym.get(sym, ())))
            continue
        if kind == "first":
            if sym is None:
                i = lo
            elif assignment is None:
                i = syms.find(sym_chars[sym], lo, hi)
            else:
                p = pos_by_sym.get(sym)
                i = p[0] if p else -1
        elif kind == "last":
            if sym is None:
                i = hi - 1
            elif assignment is None:
                i = syms.rfind(sym_chars[sym], lo, hi)
            else:
                p = pos_by_sym.get(sym)
                i = p[-1] if p else -1
        else:
            raise ValueError(f"unknown measure kind {kind!r}")
        vals.append(arrs[col][i] if i >= 0 else None)
    return vals


def _match_rows(fe, key_vals, matches, arrs, syms, order_by, match_no=0):
    """Output rows of ``matches`` (``(lo, hi, assignment)``, numbered
    from ``match_no + 1``), shared by both kernels. ONE ROW PER MATCH:
    key, match_number, ``_one_row_values``. ALL ROWS PER MATCH: one row
    per matched input row — key, match_number, the row's symbol, its
    ``order_by`` values and the ``_running_measure_values``. A None
    assignment attributes rows by their ``syms`` chars."""
    out = []
    for lo, hi, assignment in matches:
        match_no += 1
        if not fe.all_rows:
            vals = _one_row_values(fe, lo, hi, arrs, syms, assignment)
            out.append([*key_vals, match_no, *vals])
            continue
        pairs = assignment or [
            (i, fe.name_by_char[syms[i]]) for i in range(lo, hi)
        ]
        mvals = _running_measure_values(fe.specs, arrs, pairs)
        for pos, (idx, sym) in enumerate(pairs):
            out.append(
                [*key_vals, match_no, sym]
                + [arrs[c][idx] for c in order_by]
                + [mv[pos] for mv in mvals]
            )
    return out


class _SymMasks:
    """Per-key symbol membership masks over the classifier-char string
    and their zero-padded prefix counts, each built once per key: the
    shared setup of the vectorized emitters. Hits of a mask in rows
    ``[lo, hi)`` are ``cum[hi] - cum[lo]``."""

    def __init__(self, syms: str, sym_chars: dict[str, str]):
        # utf-32-le = one uint32 per char, valid for A-Z and the
        # private-use classifier chars beyond 26 symbols alike
        self.codes = np.frombuffer(syms.encode("utf-32-le"), dtype=np.uint32)
        self._sym_chars = sym_chars
        self._masks: dict = {}
        self._cums: dict = {}

    def mask(self, symk):
        """Rows attributed to ``symk``: a symbol name or a SUBSET
        frozenset of names."""
        mk = self._masks.get(symk)
        if mk is None:
            if isinstance(symk, str):
                mk = self.codes == ord(self._sym_chars[symk])
            else:
                mk = np.zeros(self.codes.shape[0], dtype=bool)
                for s in symk:
                    mk |= self.codes == ord(self._sym_chars[s])
            self._masks[symk] = mk
        return mk

    def cum(self, key, mk):
        """``[0, *cumsum(mk)]``, cached under ``key``."""
        c = self._cums.get(key)
        if c is None:
            c = np.concatenate(([0], np.cumsum(mk, dtype=np.int64)))
            self._cums[key] = c
        return c


def _null_array(n: int, dtype) -> np.ndarray:
    """All-null output column of length ``n``. Datetime sources stay
    NATIVE datetime64 + NaT: numpy silently converts datetime64 elements
    assigned into an object array to raw Python ints (epoch nanos),
    which the Spark serializer would then read as microseconds."""
    if dtype.kind == "M":
        return np.full(n, np.datetime64("NaT"), dtype=dtype)
    out = np.empty(n, dtype=object)
    out[:] = None
    return out


def _split_last_atom(pat: str) -> tuple[str, str, str]:
    """Split a compiled char-regex into (prefix, last_atom, quantifier).
    last_atom is a single symbol char or a '(...)' group; quantifier is
    '' / '?' / '*' / '+' / '{n,m}' with an optional trailing reluctant
    '?'."""
    quant = ""
    i = len(pat)
    if pat and pat[-1] == "?" and len(pat) >= 2 and pat[-2] in "*+?}":
        quant = "?"
        i -= 1
    c = pat[i - 1] if i else ""
    if c in "*+?":
        quant = c + quant
        i -= 1
    elif c == "}":
        j = pat.rfind("{", 0, i)
        quant = pat[j:i] + quant
        i = j
    if i and pat[i - 1] == ")":
        depth, j = 0, i - 1
        while j >= 0:
            if pat[j] == ")":
                depth += 1
            elif pat[j] == "(":
                depth -= 1
                if depth == 0:
                    break
            j -= 1
        return pat[:j], pat[j:i], quant
    return pat[: i - 1] if i else "", pat[i - 1 : i], quant


def _group_alts(group: str) -> list[str]:
    """Top-level alternatives of a '(...)' group body."""
    inner = group[1:-1]
    alts, d, start = [], 0, 0
    for j, ch in enumerate(inner):
        if ch == "(":
            d += 1
        elif ch == ")":
            d -= 1
        elif ch == "|" and d == 0:
            alts.append(inner[start:j])
            start = j + 1
    alts.append(inner[start:])
    return alts


def _top_alts(pat: str) -> list[str]:
    """Top-level alternatives of a bare compiled pattern ('A+|B' ->
    ['A+', 'B']). Unlike ``_group_alts`` the input has no surrounding
    parens; returns [pat] when there is no top-level '|'."""
    alts, d, start = [], 0, 0
    for j, ch in enumerate(pat):
        if ch == "(":
            d += 1
        elif ch == ")":
            d -= 1
        elif ch == "|" and d == 0:
            alts.append(pat[start:j])
            start = j + 1
    alts.append(pat[start:])
    return alts


def _quant_bounds(quant: str) -> tuple[int, int | None, bool]:
    """(min, max, reluctant) for a compiled quantifier string."""
    reluctant = quant.endswith("?") and len(quant) > 1
    core = quant[:-1] if reluctant else quant
    if core == "":
        return 1, 1, False
    if core == "?":
        return 0, 1, reluctant
    if core == "*":
        return 0, None, reluctant
    if core == "+":
        return 1, None, reluctant
    mn, mx, _ = parse_quant(core)
    return mn, mx, reluctant


def _is_nullable(pat: str) -> bool:
    """Can this (compiled) pattern fragment match the empty string?
    Top-level alternation ('A+|B') is split first — ``_split_last_atom``
    alone would treat 'A+|' as the prefix of atom 'B' (ADVICE r5)."""
    if not pat:
        return True
    alts = _top_alts(pat)
    if len(alts) > 1:
        return any(_is_nullable(a) for a in alts)
    prefix, atom, quant = _split_last_atom(pat)
    mn, _, _ = _quant_bounds(quant)
    atom_nullable = mn == 0 or (
        atom.startswith("(") and any(_is_nullable(a) for a in _group_alts(atom))
    )
    return atom_nullable and _is_nullable(prefix)


def _ends_extendable(pat: str) -> bool:
    """True when a match ending at end-of-pattern could legally consume
    MORE symbols — i.e. the final position is nullable-extendable. Used by
    the streaming guard: such a pattern can never be emitted at a batch
    boundary because the next micro-batch might extend the match.

    Handles trailing quantifiers ('A B+'), trailing quantified groups
    ('A (B|C)+'), quantifiers hidden inside a trailing group's
    alternatives ('A (C|B+)') — the case the round-1 guard missed —
    bounded ('{n,m}': extendable iff max > min or unbounded), reluctant
    quantifiers (a trailing reluctant quant consumes its minimum: with
    no later pattern element to force it, additional input cannot grow
    THAT atom), and — the case the split-invariance fuzz found — leakage
    THROUGH a nullable final atom: in 'B A? A*?' the reluctant tail
    matches empty, so the match really ends at the greedy 'A?', which a
    later batch can extend ('ba' -> 'baa'). The end is extendable iff
    the last atom is, OR the last atom can match empty and the prefix's
    end is. Top-level alternation ('A+|B') is split first: the pattern
    end is extendable if ANY alternative's end is (ADVICE r5 — a match
    via the A+ branch would otherwise be held by ``_stable_scan`` until
    a later symbol arrives, the liveness hazard this guard rejects).
    """
    if not pat:
        return False
    alts = _top_alts(pat)
    if len(alts) > 1:
        return any(_ends_extendable(a) for a in alts)
    prefix, atom, quant = _split_last_atom(pat)
    mn, mx, reluctant = _quant_bounds(quant)
    if not reluctant and (mx is None or mx > mn):
        return True
    # a non-quantified group is extendable if any alternative ends so;
    # a repeated group (max == min or reluctant) still ends with its
    # LAST copy, whose inner end may itself be extendable
    if atom.startswith("(") and any(_ends_extendable(a) for a in _group_alts(atom)):
        return True
    atom_nullable = mn == 0 or (
        atom.startswith("(") and any(_is_nullable(a) for a in _group_alts(atom))
    )
    if atom_nullable and _ends_extendable(prefix):
        return True
    return False


def _compile_pattern(pattern: str, sym_chars: dict[str, str]) -> re.Pattern:
    """Translate 'A B* C' / 'A (B|C)+' style symbol patterns into a char
    regex. Unknown symbols raise; chars are the per-symbol classifier
    output."""
    out = []
    pos = 0
    while pos < len(pattern):
        m = _TOKEN.match(pattern, pos)
        if not m:
            raise ValueError(f"bad pattern token at: {pattern[pos:]!r}")
        pos = m.end()
        if m.group("sym"):
            name = m.group("sym")
            if name not in sym_chars:
                raise ValueError(f"pattern symbol {name!r} not in define")
            out.append(re.escape(sym_chars[name]) + m.group("quant"))
        elif m.group("punct"):
            out.append(m.group("punct") + m.group("pquant"))
    return re.compile("".join(out))


class _Compiled(NamedTuple):
    """The arguments both kernels share, validated and compiled once by
    ``_compile``. Holds no JVM objects, so the per-key kernels may close
    over it."""

    measures: dict  # output name -> (kind, sym, col, offset, mode)
    specs: list  # measures.values(), in output order
    sym_chars: dict
    name_by_char: dict
    rx: re.Pattern  # PATTERN as a regex over classifier chars
    nfa: NFA
    col_syms: list  # symbols with a boolean Column define, define order
    fn_defines: dict  # symbol -> callable define
    measure_cols: list
    skip_sym: "str | None"
    skip_first: bool
    all_rows: bool
    with_classifier: bool

    def output_schema(self, schema, partition_by, order_by) -> T.StructType:
        """ONE ROW: partition cols, match_number, [classifier], measures.
        ALL ROWS: partition cols, match_number, classifier, order cols,
        measures. ``schema`` is the kernel's projected input: COUNT is
        LONG, AVG DOUBLE, every other measure keeps its column's type."""

        def _measure_field(name: str, spec: tuple) -> T.StructField:
            if spec[0] == "count":
                return T.StructField(name, T.LongType())
            if spec[0] == "avg":
                return T.StructField(name, T.DoubleType())
            return T.StructField(name, schema[spec[2]].dataType)

        fields = [schema[c] for c in partition_by]
        fields.append(T.StructField("match_number", T.LongType()))
        if self.all_rows or self.with_classifier:
            fields.append(T.StructField("classifier", T.StringType()))
        if self.all_rows:
            fields += [schema[c] for c in order_by]
        fields += [_measure_field(n, s) for n, s in self.measures.items()]
        return T.StructType(fields)


def _compile(
    define, pattern, measures, after_match, all_rows, subsets, with_classifier
) -> tuple[_Compiled, Column]:
    """The front end both kernels share: validate DEFINE, SUBSET,
    MEASURES (SUBSET names resolved to frozensets of members), AFTER
    MATCH SKIP and the output mode, and compile the pattern. Returns the
    compiled arguments and the classifier Column: per row the char of
    the first COLUMN define it satisfies, else '.' (decisive only where
    each row satisfies at most one define)."""
    if not define:
        raise ValueError("define must not be empty")
    subsets = subsets or {}
    for uname, members in subsets.items():
        if uname in define:
            raise ValueError(f"SUBSET name {uname!r} collides with a DEFINE symbol")
        bad = [m for m in members if m not in define]
        if bad:
            raise ValueError(f"SUBSET {uname!r} members {bad} not in define")
    measures = {
        name: _norm_spec(
            name,
            (
                spec[0],
                frozenset(subsets[spec[1]])
                if isinstance(spec[1], str) and spec[1] in subsets
                else spec[1],
                *spec[2:],
            ),
        )
        for name, spec in measures.items()
    }
    for name, spec in measures.items():
        if isinstance(spec[1], str) and spec[1] not in define:
            raise ValueError(
                f"measure {name!r} references symbol {spec[1]!r} — not a "
                "DEFINE symbol or SUBSET name"
            )
    if with_classifier and all_rows:
        raise ValueError(
            "with_classifier applies to ONE ROW PER MATCH only "
            "(ALL ROWS already emits a per-row classifier column)"
        )
    skip_sym: str | None = None
    skip_first = False
    m_skip = re.match(r"to (first|last) (\w+)$", after_match)
    if m_skip:
        skip_first = m_skip.group(1) == "first"
        skip_sym = m_skip.group(2)
        if skip_sym not in define:
            raise ValueError(f"AFTER MATCH SKIP target {skip_sym!r} not in define")
    elif after_match not in ("past last row", "to next row"):
        raise ValueError(f"unsupported AFTER MATCH SKIP mode {after_match!r}")

    sym_chars = _sym_chars(define)
    rx = _compile_pattern(pattern, sym_chars)
    col_syms = [n for n, d in define.items() if isinstance(d, Column)]
    classifier: Column = F.lit(".")
    for name in reversed(col_syms):
        classifier = F.when(define[name], F.lit(sym_chars[name])).otherwise(
            classifier
        )
    fe = _Compiled(
        measures=measures,
        specs=list(measures.values()),
        sym_chars=sym_chars,
        name_by_char={c: n for n, c in sym_chars.items()},
        rx=rx,
        nfa=NFA(pattern),
        col_syms=col_syms,
        fn_defines={n: d for n, d in define.items() if not isinstance(d, Column)},
        measure_cols=sorted({spec[2] for spec in measures.values() if spec[2]}),
        skip_sym=skip_sym,
        skip_first=skip_first,
        all_rows=all_rows,
        with_classifier=with_classifier,
    )
    return fe, classifier


def match_recognize(
    df: DataFrame,
    partition_by: list[str],
    order_by: list[str],
    define: dict[str, "Column | callable"],
    pattern: str,
    measures: dict[str, tuple],
    after_match: str = "past last row",
    all_rows: bool = False,
    pre_partitioned: bool = False,
    subsets: "dict[str, list[str]] | None" = None,
    with_classifier: bool = False,
) -> DataFrame:
    """Find per-key ordered event patterns; one output row per match.

    ``define`` maps each symbol to either
    - a boolean ``Column`` (evaluated JVM-side, vectorized — the fast
      path; use ``F.lag(...).over(...)`` for ``PREV()`` navigation since
      SQL PREV addresses physical rows, not symbol rows), or
    - a Python callable ``fn(arrs, i, bindings) -> bool`` for
      match-state-DEPENDENT predicates (``B AS B.price < LAST(A.price)``
      chains, reference ``impl/nfa/NFA.java``): ``arrs`` is a dict of
      numpy column arrays for the key's ordered rows, ``i`` the row
      index under test, ``bindings`` the partial ``{symbol: [row
      indices]}`` of the match so far.

    ``pattern`` is a regex over symbols (quantifiers ``? * +``,
    alternation ``|``, grouping); ``measures`` defines the output.

    Execution: rows whose DEFINEs are mutually exclusive in the data run
    through a host-regex over a classifier char string (C-level, the
    round-2 kernel). Keys where a row satisfies >1 symbol — or any
    callable define — run the real leftmost-greedy backtracking NFA
    (``plans/nfa.py``), matching Calcite's NFA preference order. Both
    paths share the one-shuffle ``applyInArrow`` shape: each key's rows
    arrive as a ``pa.Table`` and its output leaves as one, since Spark
    moves both as Arrow and a pandas frame between would only be
    converted straight back.

    ``after_match`` is the SQL-standard AFTER MATCH SKIP clause:
    ``"past last row"`` (default, non-overlapping), ``"to next row"``
    (the next scan starts one row after the previous MATCH START, so
    matches may overlap), or ``"to first <Sym>"`` / ``"to last <Sym>"``
    (the next scan resumes AT that row of the match; raises if the
    symbol is absent from a match or the target is the match's first
    row, the standard's infinite-loop protections) — the full
    Calcite/Flink skip-strategy set.
    ``all_rows=True`` switches from ONE ROW PER MATCH to ALL ROWS PER
    MATCH: one output row per MATCHED INPUT ROW carrying
    (partition cols, match_number, classifier() symbol name, order
    cols, measures). In this mode measures are RUNNING by default —
    prefix scans over the match span up to the current row (the SQL
    standard's ALL-ROWS default): ``("count", SYM)`` counts SYM rows so
    far, ``("last", SYM, col)`` is the most recent SYM row's value (NULL
    before the first), ``("first", SYM, col)`` pins at the first SYM
    row. A 4th spec element ``"final"`` gives the whole-match value on
    every row instead. ``("count", SYM, col)`` counts NON-NULL values of
    ``col`` among SYM's rows (SQL ``COUNT(Sym.col)``); ``("count", None,
    col)`` over all match rows.

    Aggregate measure kinds ``("sum"|"avg"|"min"|"max", SYM, col)``
    aggregate ``col`` over SYM's rows (nulls skipped; ``avg`` emits
    double, the others keep the column type) — the Calcite MEASURES
    aggregate surface (reference ``BeamMatchRelTest.java:278``
    ``AVG (U.Price)``). ``subsets`` declares SQL SUBSET union symbols
    (``{"U": ["A", "B"]}``): a measure whose SYM is a subset name
    ranges over rows matched to ANY member.

    ``("first"|"last", SYM, col, n)`` adds the SQL LOGICAL OFFSET:
    the value n rows in from the mapped group's start/end (NULL when
    SYM maps fewer than n+1 rows) — ``LAST(A.price, 1)`` is the
    second-to-last A row. Under ``all_rows=True`` running offsets
    track the prefix mapped so far. ``with_classifier=True`` (one-row
    mode only) appends a ``classifier`` column holding the LAST matched
    row's symbol — the SQL standard's CLASSIFIER() under ONE ROW PER
    MATCH.
    """
    fe, classifier = _compile(
        define, pattern, measures, after_match, all_rows, subsets, with_classifier
    )
    sym_chars, specs, name_by_char = fe.sym_chars, fe.specs, fe.name_by_char
    rx, nfa, fn_defines = fe.rx, fe.nfa, fe.fn_defines
    nfa_first, nfa_nullable = nfa.first_symbols()
    force_nfa = after_match != "past last row" and _is_nullable(rx.pattern)

    measure_cols = fe.measure_cols
    # shuffle width: keep only the columns the kernel can prove it needs.
    # Compiled DEFINE conditions (plans/cepdefine.py) declare their
    # column set as fn.columns; an OPAQUE user callable may inspect any
    # column, so only then does the whole row survive the shuffle.
    if fn_defines and all(hasattr(d, "columns") for d in fn_defines.values()):
        pred_cols = sorted(
            set().union(*(d.columns for d in fn_defines.values()))
        )
        missing = [c for c in pred_cols if c not in df.columns]
        if missing:
            raise ValueError(
                f"DEFINE conditions reference unknown columns {missing}"
            )
        base_cols = list(
            dict.fromkeys([*partition_by, *order_by, *measure_cols, *pred_cols])
        )
    elif fn_defines:
        base_cols = list(df.columns)
    else:
        base_cols = list(dict.fromkeys([*partition_by, *order_by, *measure_cols]))
    bool_cols = {n: f"__d_{i}" for i, n in enumerate(fe.col_syms)}
    proj = df.select(
        *base_cols,
        classifier.alias("__sym"),
        *[define[n].cast("boolean").alias(c) for n, c in bool_cols.items()],
    )

    out_schema = fe.output_schema(proj.schema, partition_by, order_by)
    data_cols = [c for c in base_cols]

    def _batch_aggs_exact(arrs) -> bool:
        """The batch emitter may only vectorize SUM/AVG when the column
        is integral (prefix/segment arithmetic is exact there; float
        summation order would change the last-bit rounding vs the
        per-match ``sum()``), and MIN/MAX on natively comparable numpy
        dtypes. Anything else keeps the per-match ``_one_row_values``
        loop."""
        for kind, _sym, col, _off, _mode in specs:
            if kind in ("sum", "avg"):
                if arrs[col].dtype.kind not in "iu":
                    return False
            elif kind in ("min", "max"):
                if arrs[col].dtype.kind not in "iufM":
                    return False
        return True

    def _emit_batch(key_vals, los, his, arrs, syms):
        """Vectorized ONE ROW PER MATCH emission for the fast path
        (VERDICT r11 item 5): ``_one_row_values`` costs ~17 us/match in
        Python measure scans (r11 cProfile: ~0.7 s single-threaded on
        cep_measures_complete). This computes every measure for ALL
        matches of the key at once — per-symbol membership masks +
        padded prefix counts turn FIRST/LAST/COUNT into O(1) array
        lookups per match, and SUM/MIN/MAX into ``reduceat`` segments
        over the symbol's occurrence list. Value semantics are
        bit-identical to ``_one_row_values``: FIRST/LAST index rows
        regardless of NULLs, COUNT(col)/aggregates skip NULLs, empty
        aggregate spans yield None, AVG divides the exact integral sum
        as float. Returns the output columns (measures as object arrays
        — the same cell values ``_one_row_values`` would produce)."""
        m = los.shape[0]
        sm = _SymMasks(syms, sym_chars)
        codes, _mask, _cum = sm.codes, sm.mask, sm.cum

        def _pick(a, idx_arr, valid):
            """a[idx] where valid, None/NaT elsewhere."""
            out = _null_array(m, a.dtype)
            if valid.any():
                safe = np.where(valid, idx_arr, 0)
                pv = a[safe]
                out[valid] = pv[valid]
            return out

        cols = [np.full(m, kv, dtype=object) for kv in key_vals]
        cols.append(np.arange(1, m + 1, dtype=np.int64))
        if with_classifier:
            last_codes = codes[his - 1]
            cl = np.empty(m, dtype=object)
            for u in np.unique(last_codes):
                cl[last_codes == u] = name_by_char[chr(u)]
            cols.append(cl)
        for spec in specs:
            kind, symk, col, off, _mode = spec
            if kind == "count":
                if col is not None:
                    mk = ~pd.isna(arrs[col])
                    if symk is not None:
                        mk = mk & _mask(symk)
                    c = _cum((symk, col, "nn"), mk)
                    cols.append(c[his] - c[los])
                elif symk is None:
                    cols.append(his - los)
                else:
                    c = _cum(symk, _mask(symk))
                    cols.append(c[his] - c[los])
                continue
            a = arrs[col]
            if kind in ("first", "last"):
                if symk is None:
                    valid = (his - los) > off
                    sel = (los + off) if kind == "first" else (his - 1 - off)
                    cols.append(_pick(a, sel, valid))
                else:
                    mk = _mask(symk)
                    c = _cum(symk, mk)
                    clo, chi = c[los], c[his]
                    if kind == "first":
                        sel = clo + off
                        valid = sel < chi
                    else:
                        sel = chi - 1 - off
                        valid = sel >= clo
                    pos = np.flatnonzero(mk)
                    if pos.shape[0] == 0:
                        cols.append(_null_array(m, a.dtype))
                    else:
                        cols.append(
                            _pick(a, pos[np.where(valid, sel, 0)], valid)
                        )
                continue
            # sum / avg / min / max — NULL-skipping segment reductions
            mk = ~pd.isna(a)
            if symk is not None:
                mk = mk & _mask(symk)
            c = _cum((symk, col, "nn"), mk)
            clo, chi = c[los], c[his]
            cnt = chi - clo
            nonempty = cnt > 0
            vpos = np.flatnonzero(mk)
            out = _null_array(
                m, a.dtype if kind in ("min", "max") else np.dtype("O")
            )
            if vpos.shape[0] and nonempty.any():
                av = a[vpos]
                # sentinel element keeps every reduceat index < len;
                # segments never reach it (they end at chi <= len(av))
                av2 = np.concatenate((av, av[:1]))
                idx = np.empty(2 * m, dtype=np.int64)
                idx[0::2] = clo
                idx[1::2] = chi
                op = {
                    "sum": np.add,
                    "avg": np.add,
                    "min": np.minimum,
                    "max": np.maximum,
                }[kind]
                r = op.reduceat(av2, idx)[0::2]
                if kind == "avg":
                    vals_f = r.astype(np.float64) / np.maximum(cnt, 1)
                    out[nonempty] = vals_f[nonempty]
                else:
                    out[nonempty] = r[nonempty]
            cols.append(out)
        return cols

    def _all_rows_batch_exact(arrs) -> bool:
        """ALL ROWS vectorization guard (VERDICT r11 item 5, second
        half): prefix-scan RUNNING measures are emitted only when
        provably bit-identical to ``_running_measure_values`` —
        COUNT always; FIRST/LAST without logical offset; SUM/AVG on
        integral columns (exact prefix arithmetic); MIN/MAX only under
        FINAL mode (a per-segment running min cannot be reset by a
        prefix trick) on natively comparable dtypes. Anything else
        keeps the per-match ``_match_rows`` loop."""
        for kind, _sym, col, off, mode in specs:
            mode = mode or "running"
            if mode not in ("running", "final"):
                return False
            if kind == "count":
                continue
            if kind in ("first", "last"):
                if off:
                    return False
                continue
            if kind in ("sum", "avg"):
                if arrs[col].dtype.kind not in "iu":
                    return False
                continue
            if kind in ("min", "max"):
                if mode != "final" or arrs[col].dtype.kind not in "iufM":
                    return False
                continue
            return False
        return True

    def _emit_all_rows_batch(key_vals, los, his, arrs, syms):
        """Vectorized ALL ROWS PER MATCH emission for the fast path:
        every matched row of every match of the key at once. Row
        universe = concatenated [lo, hi) spans; RUNNING measures are
        global prefix scans minus the per-match offset at lo (COUNT:
        cum[r+1]-cum[lo]; SUM: psum[r+1]-psum[lo]; FIRST/LAST: gather
        through the hit-position array), FINAL measures are the
        whole-match segment value repeated across the span. NULL and
        empty-prefix semantics mirror ``_running_measure_values``
        exactly (guard above)."""
        lens = his - los
        total = int(lens.sum())
        m = los.shape[0]
        offs = np.concatenate(([0], np.cumsum(lens)[:-1]))
        ridx = np.arange(total, dtype=np.int64) + np.repeat(los - offs, lens)
        sm = _SymMasks(syms, sym_chars)
        codes, _mask, _cum = sm.codes, sm.mask, sm.cum

        cols = [np.full(total, kv, dtype=object) for kv in key_vals]
        cols.append(np.repeat(np.arange(1, m + 1, dtype=np.int64), lens))
        cl = np.empty(total, dtype=object)
        row_codes = codes[ridx]
        for u in np.unique(row_codes):
            cl[row_codes == u] = name_by_char[chr(u)]
        cols.append(cl)
        for c in order_by:
            cols.append(arrs[c][ridx])
        for spec in specs:
            kind, symk, col, _off, mode = spec
            mode = mode or "running"
            # hit mask: symbol membership, plus non-null for COUNT(col)
            # and the null-skipping aggregates
            if kind == "count" and col is None:
                mk = _mask(symk) if symk is not None else None
            elif kind in ("first", "last"):
                mk = _mask(symk) if symk is not None else None
            else:
                mk = ~pd.isna(arrs[col])
                if symk is not None:
                    mk = mk & _mask(symk)
            if mk is None:  # every row of the match participates
                mk = np.ones(codes.shape[0], dtype=bool)
                ckey = ("__all__", kind in ("count",))
            else:
                ckey = (symk, col, kind)
            c = _cum(ckey, mk)
            clo = c[los]
            rep_clo = np.repeat(clo, lens)
            cr = c[ridx + 1]  # hits in [lo, r] per row
            if kind == "count":
                if mode == "final":
                    cols.append(np.repeat(c[his] - clo, lens))
                else:
                    cols.append(cr - rep_clo)
                continue
            a = arrs[col]
            if kind in ("first", "last"):
                pos = np.flatnonzero(mk)
                if mode == "final":
                    chi = c[his]
                    mvalid = chi > clo
                    sel_m = np.where(
                        mvalid, clo if kind == "first" else chi - 1, 0
                    )
                    valid = np.repeat(mvalid, lens)
                    sel = np.repeat(sel_m, lens)
                else:
                    valid = cr > rep_clo
                    sel = np.where(
                        valid, rep_clo if kind == "first" else cr - 1, 0
                    )
                out = _null_array(total, a.dtype)
                if pos.shape[0] and valid.any():
                    pv = a[pos[sel]]
                    out[valid] = pv[valid]
                cols.append(out)
                continue
            if kind in ("sum", "avg"):
                acc_dtype = a.dtype if a.dtype == np.uint64 else np.int64
                ps = np.concatenate(
                    (
                        [0],
                        np.cumsum(np.where(mk, a, 0), dtype=acc_dtype),
                    )
                )
                if mode == "final":
                    cnt = np.repeat(c[his] - clo, lens)
                    s = np.repeat(ps[his] - ps[los], lens)
                else:
                    cnt = cr - rep_clo
                    s = ps[ridx + 1] - np.repeat(ps[los], lens)
                nonempty = cnt > 0
                out = _null_array(total, np.dtype("O"))
                if kind == "avg":
                    vals_f = s.astype(np.float64) / np.maximum(cnt, 1)
                    out[nonempty] = vals_f[nonempty]
                else:
                    out[nonempty] = s[nonempty]
                cols.append(out)
                continue
            # min / max — FINAL only (guard): segment reduceat + repeat
            chi = c[his]
            cnt_m = chi - clo
            nonempty_m = cnt_m > 0
            vpos = np.flatnonzero(mk)
            out = _null_array(total, a.dtype)
            if vpos.shape[0] and nonempty_m.any():
                av = a[vpos]
                av2 = np.concatenate((av, av[:1]))
                idx = np.empty(2 * m, dtype=np.int64)
                idx[0::2] = clo
                idx[1::2] = chi
                op = np.minimum if kind == "min" else np.maximum
                r = op.reduceat(av2, idx)[0::2]
                if a.dtype.kind == "M":
                    mvals = _null_array(m, a.dtype)
                    mvals[nonempty_m] = r[nonempty_m]
                    out[:] = np.repeat(mvals, lens)
                else:
                    rep = np.repeat(r, lens)
                    rep_ne = np.repeat(nonempty_m, lens)
                    out[rep_ne] = rep[rep_ne]
            cols.append(out)
        return cols, total

    arrow_schema = to_arrow_schema(out_schema)
    temporal = [
        isinstance(f.dataType, (T.TimestampType, T.TimestampNTZType, T.DateType))
        for f in out_schema.fields
    ]

    def _table(cols) -> pa.Table:
        """Output columns (arrays from the vectorized emitters, or tuples
        of per-match cells) as a table of the declared schema. A temporal
        column that is not already datetime64 goes through pandas first:
        pyarrow rejects an object array of ``np.datetime64`` scalars for a
        timestamp or date type."""
        arrays = []
        for field, tmp, col in zip(arrow_schema, temporal, cols):
            if tmp and not (isinstance(col, np.ndarray) and col.dtype.kind == "M"):
                col = pd.Series(col).to_numpy()
            arrays.append(pa.array(col, type=field.type, from_pandas=True))
        return pa.Table.from_arrays(arrays, schema=arrow_schema)

    def run(tbl: pa.Table) -> pa.Table:
        # One stable Arrow sort over the ORDER BY columns: ties keep input
        # order and nulls (and NaN) sort last.
        tbl = tbl.take(pc.sort_indices(tbl, [(c, "ascending") for c in order_by]))
        arrs = {c: tbl[c].to_numpy(zero_copy_only=False) for c in data_cols}
        bools = {
            n: pc.fill_null(tbl[c], False).to_numpy(zero_copy_only=False)
            for n, c in bool_cols.items()
        }
        sym_np = tbl["__sym"].to_numpy(zero_copy_only=False)
        key_vals = [arrs[c][0] for c in partition_by]
        n = tbl.num_rows
        # ambiguous iff any row satisfies two column defines or a callable
        # define exists — only then pay for the Python NFA. Nullable
        # patterns under a non-default skip mode also take the NFA: the
        # fast-path scanner advances past a zero-width hit without
        # retrying non-empty at the same position (unlike finditer and
        # the NFA's require_consume retry), so 'A*?' + TO NEXT ROW would
        # lose matches (ADVICE r5).
        ambiguous = bool(fn_defines) or force_nfa
        if not ambiguous and len(bools) > 1:
            stack = np.zeros(n, dtype=np.int8)
            for b in bools.values():
                stack += b
            ambiguous = bool((stack > 1).any())

        if not ambiguous:
            # fast path: classifier string + host regex (C-level scans)
            syms = "".join(sym_np.tolist())

            def host_matches():
                if after_match == "past last row":
                    yield from (
                        (m.start(), m.end(), None)
                        for m in rx.finditer(syms)
                        if m.end() > m.start()
                    )
                    return
                pos = 0
                while pos < n:
                    m = rx.search(syms, pos)
                    if m is None:
                        return
                    lo_, hi_ = m.start(), m.end()
                    if hi_ == lo_:
                        pos = lo_ + 1
                        continue
                    yield lo_, hi_, None
                    pos = _restart(
                        after_match,
                        fe.skip_sym,
                        fe.skip_first,
                        lo_,
                        hi_,
                        ((i, name_by_char[syms[i]]) for i in range(lo_, hi_)),
                    )

            matches = list(host_matches())
            if matches:
                if all_rows:
                    # Engage the batch emitter only past ~256 matched
                    # rows: its fixed per-key numpy setup (classifier
                    # decode, masks, cumsums over the WHOLE key) beats
                    # the per-match loop on big keys (the 100 TB shape)
                    # but loses on the many-small-keys shape (measured
                    # r12: 0.43s -> 0.55s kernel wall at ~67 rows/key);
                    # small keys keep the row loop — identical output.
                    n_matched = sum(hi_ - lo_ for lo_, hi_, _ in matches)
                    vectorize = (
                        n_matched >= _ALL_ROWS_BATCH_MIN
                        and _all_rows_batch_exact(arrs)
                    )
                else:
                    vectorize = _batch_aggs_exact(arrs)
                if vectorize:
                    m = len(matches)
                    los = np.fromiter((s[0] for s in matches), np.int64, m)
                    his = np.fromiter((s[1] for s in matches), np.int64, m)
                    if all_rows:
                        return _table(
                            _emit_all_rows_batch(key_vals, los, his, arrs, syms)[0]
                        )
                    return _table(_emit_batch(key_vals, los, his, arrs, syms))
        else:
            syms = None

            def can_consume(sym, i, trail):
                if sym in bools:
                    return bool(bools[sym][i])
                return bool(fn_defines[sym](arrs, i, trail_bindings(trail)))

            # anchor pruning: when every symbol that can START a match
            # has a column define, a vectorized mask skips the scan
            # positions where match_at could only allocate and fail —
            # 4.6x on a 200k-row key at 1% anchor density (the 100-TB
            # shape: big keys, sparse anchors); zero-allocation when the
            # first-set is a single symbol (its bool array IS the mask)
            start_mask = None
            if not nfa_nullable and nfa_first <= set(bools):
                masks = [bools[s] for s in nfa_first]
                start_mask = (
                    masks[0] if len(masks) == 1 else np.logical_or.reduce(masks)
                )

            matches, _ = _stable_scan(
                nfa,
                n,
                can_consume,
                after_match,
                fe.skip_sym,
                fe.skip_first,
                start_mask=start_mask,
                probe=False,
            )
        rows = _match_rows(fe, key_vals, matches, arrs, syms, order_by)
        return _table(zip(*rows)) if rows else arrow_schema.empty_table()

    # Explicit repartition: AQE would coalesce this tiny shuffle to 1-2
    # tasks, serializing the (CPU-bound) Python stage; a user repartition
    # by the grouping keys both provides the required hash partitioning
    # and is exempt from AQE coalescing. ``pre_partitioned=True`` skips
    # it when the caller already hash-repartitioned on the same keys
    # (e.g. run_sql's PREV/NEXT Window) — a second user repartition is
    # NOT removed by Catalyst and would shuffle twice.
    if not pre_partitioned:
        n_part = proj.sparkSession.sparkContext.defaultParallelism
        proj = proj.repartition(n_part, *partition_by)
    return proj.groupBy(*partition_by).applyInArrow(run, out_schema)


def _restart(after_match, skip_sym, skip_first, lo, hi, pairs) -> int:
    """Row where the scan resumes after the match over rows ``[lo, hi)``
    — the SQL AFTER MATCH SKIP clause. PAST LAST ROW resumes at ``hi``
    (non-overlapping), TO NEXT ROW one past the match start
    (overlapping), TO FIRST/LAST <sym> (``skip_sym`` + ``skip_first``) at
    that row of the match, read from ``pairs``, the match's ``(row,
    symbol)`` attribution. Raises the standard's infinite-loop
    protections: the target symbol is absent from the match, or the
    target is the match's first row."""
    if after_match == "past last row":
        return hi
    if skip_sym is None:  # to next row
        return lo + 1
    ps = [idx for idx, s in pairs if s == skip_sym]
    if not ps:
        raise ValueError(
            f"AFTER MATCH SKIP {after_match}: {skip_sym} absent from match"
        )
    t = ps[0] if skip_first else ps[-1]
    if t == lo:
        raise ValueError(
            f"AFTER MATCH SKIP {after_match} would re-match the same starting row"
        )
    return t


def _stable_scan(
    nfa,
    n: int,
    can,
    after_match: str = "past last row",
    skip_sym: "str | None" = None,
    skip_first: bool = False,
    start: int = 0,
    start_mask=None,
    probe: bool = True,
) -> tuple[list[tuple[int, int, list]], int]:
    """Leftmost-greedy matches over a PARTIAL stream prefix: scan like
    ``NFA.finditer`` but stop at the first position whose outcome could
    still change with more input (some branch at or above the winning
    priority probed past the buffer end). Returns (decided matches as
    ``(lo, hi, assignment)``, boundary): everything before ``boundary``
    is final — emit the matches, drop the prefix; rows from ``boundary``
    on must stay buffered. The assignment (the NFA's ``[(row, sym),
    ...]``) carries symbol attribution for rows classified by CALLABLE
    defines, which have no classifier char.

    ``after_match`` picks the restart policy (``_restart``, shared with
    the batch kernel's host-regex scan). The stability argument is
    unchanged under every mode: the restart position is a deterministic
    function of a DECIDED match, the scan stops at the first probing
    position, and every emitted match starts strictly before the
    returned boundary — so dropping ``rows[:boundary]`` can never
    re-emit a match, whatever the overlap.

    ``start`` begins the scan mid-buffer: the streaming kernel retains
    already-consumed HISTORY rows at the buffer front so PREV()
    physical navigation can see across the consumption boundary —
    those rows must never be rescanned (they would re-emit), so the
    scan starts at the first unconsumed index.

    ``probe=False`` scans a COMPLETE input (the batch kernel): no row
    can arrive past ``n``, so every match is decided and the boundary is
    ``n``. ``start_mask`` (bool per row) skips positions where no
    first-set symbol holds — pure pruning, valid only for non-nullable
    patterns (``NFA.first_symbols``)."""
    matches: list[tuple[int, int, list]] = []
    i = start
    while i < n:
        if start_mask is not None and not start_mask[i]:
            i += 1
            continue
        wanted = [False] if probe else None
        m = nfa.match_at(i, n, can, probe=wanted)
        if m is not None and m[0] == i:
            # zero-width: the host engine retries non-empty at the same
            # position; the retry's stability matters too
            m = nfa.match_at(i, n, can, require_consume=True, probe=wanted)
        if probe and wanted[0]:
            return matches, i
        if m is None or m[0] == i:
            i += 1
            continue
        matches.append((i, m[0], m[1]))
        i = _restart(after_match, skip_sym, skip_first, i, m[0], m[1])
    return matches, n


#: (column types, encode, decode) for streaming-state cells JSON cannot
#: hold, restored exactly: TIMESTAMP as integer nanoseconds, DATE as its
#: proleptic ordinal, DECIMAL as its text (never through a float),
#: BINARY as hex.
_STATE_CODECS = (
    (
        (T.TimestampType, T.TimestampNTZType),
        lambda v: pd.Timestamp(v).value,
        pd.Timestamp,
    ),
    ((T.DateType,), date.toordinal, date.fromordinal),
    ((T.DecimalType,), str, Decimal),
    ((T.BinaryType,), lambda v: bytes(v).hex(), bytes.fromhex),
)


def match_recognize_stream(
    df: DataFrame,
    partition_by: "str | list[str]",
    order_by: "str | list[str]",
    define: dict[str, "Column | callable"],
    pattern: str,
    measures: dict[str, tuple],
    max_buffer: int = 1000,
    event_time: bool = False,
    watermark_delay: str = "10 seconds",
    subsets: "dict[str, list[str]] | None" = None,
    predicate_cols: "list[str] | None" = None,
    with_classifier: bool = False,
    all_rows: bool = False,
    after_match: str = "past last row",
):
    """Streaming MATCH_RECOGNIZE: the batch kernel run incrementally over
    a per-key state buffer (``applyInPandasWithState``). ``define``,
    ``pattern``, ``measures``, ``subsets``, ``after_match``,
    ``all_rows`` and ``with_classifier`` mean what they mean for
    ``match_recognize``: both kernels share the front end that validates
    them and the measure evaluators. What differs is described here.
    One difference is a known gap: a row satisfying several COLUMN
    defines takes the first of them in ``define`` order (its classifier
    char), where the batch kernel lets the pattern position decide.

    Each micro-batch appends its (ordered) rows to the key's unconsumed
    tail and runs a STABILITY-AWARE scan (``_stable_scan``): a match is
    emitted only when no branch at or above its priority wanted a row
    beyond the buffer, so the emission is final whatever the next
    micro-batch delivers — the same hold-until-decided rule Flink's CEP
    NFA applies. (A split-invariance fuzz showed the earlier
    end-of-pattern check alone was insufficient: in ``C? C`` over
    ``..CC`` split after the first C, the greedy ``C?`` re-decides when
    the second C arrives, so a plain finditer over the buffer emits a
    match the whole-sequence run never produces. The probe catches
    exactly those cases; decided prefixes are dropped from state, the
    undecided tail is carried.) Patterns whose END is extendable (a
    trailing ``X*``/``X+``, even hidden in a group alternative or behind
    a nullable tail) are still rejected up front — they are sound under
    the probe rule but would hold every match until a LATER symbol
    arrives, a stream that can go quiet forever. The buffer is capped
    at ``max_buffer`` unconsumed rows per key (oldest dropped) so state
    stays bounded — the streaming analog of Beam's NFA state in
    ``BeamMatchRel``. Overlapping AFTER MATCH SKIP modes stay sound
    incrementally: the restart position depends only on a DECIDED match
    and every emitted match starts strictly before the consumed
    boundary, so dropped state can never re-emit.

    ``event_time=True`` makes the kernel watermark-correct for
    OUT-OF-ORDER arrival (Beam's BeamMatchRel / Flink CEP event-time
    semantics): ``order_by`` must be a timestamp column, a watermark of
    ``watermark_delay`` is applied to it, and the scan runs only over
    the buffer prefix with ts < watermark — the region no future row
    can enter — with the stability probe firing at the prefix edge.
    Rows arriving later than the watermark are dropped (the standard
    late-data contract); rows at/after it buffer unfinalized, whatever
    order they arrive in.

    With ``event_time=False`` (ARRIVAL-ORDER mode) the source must
    deliver each key's rows in ``order_by`` order ACROSS micro-batches
    (composite order when ``order_by`` is compound): rows are sorted
    within the buffer, but once a row has been consumed by a decided
    match the kernel never re-sorts behind it, so a later batch
    delivering a row that sorts BEFORE an already-consumed row would
    silently produce matches a batch run never produces. The kernel
    therefore tracks the last-consumed sort key per key in state and
    RAISES on such an arrival (ADVICE r9) — out-of-order sources must
    use ``event_time=True``, whose watermark makes reordering sound.
    Within a micro-batch, any arrival order is fine (sorted before the
    scan).
    Measures must not target the TIMESTAMP order column in event-time
    mode (it is held as integer microseconds in state); compound
    tie-breaker columns stay measurable.

    ``order_by`` may be COMPOUND (r9 lift): each order column is
    stored once in the data slots and the composite sort key derives
    from them (state rows stay as narrow as the single-order path), so
    measures can reference any order column; ties resolve by the
    declared column order, batch-identically. Compound ``order_by``
    works in event-time mode too (r10 lift): ``order_by[0]`` must be
    the timestamp column (the single watermark), and the remaining
    columns are pure TIE-BREAKERS — the scannable prefix is still
    ts < watermark, whose row set is final under the late-drop
    contract, so ties within it are fully buffered and their order
    deterministic whatever the arrival order; tie-breaker columns stay
    measurable (only the ts column itself is held as integer
    microseconds).

    Callable ``define`` values see ``arrs`` as column name -> list of
    the key's buffered values (``predicate_cols`` declares any columns
    the callables need beyond the measure columns); column defines still
    classify JVM-side, and only callable symbols pay a per-transition
    Python call. In event-time mode callables see ``order_by`` as
    integer microseconds (the state encoding).
    """
    import json

    # multi-column PARTITION BY: the key lives in the groupBy, not the
    # state blob, so compound keys do not widen state rows (r8 lift).
    # Compound ORDER BY (r9 lift): every order column is stored once in
    # the data slots and the composite sort key derives from them;
    # event-time mode stays single-column (the watermark needs ONE
    # timestamp).
    part_cols = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    order_cols = [order_by] if isinstance(order_by, str) else list(order_by)
    # Event-time x compound ORDER BY (r10 lift): the watermark is still
    # ONE timestamp column — order_cols[0] — and the remaining columns
    # are pure TIE-BREAKERS. The stability argument is unchanged: the
    # scannable prefix is ts < watermark, whose row SET is final (later
    # arrivals below the watermark are dropped as late), so ties within
    # it are fully buffered and their (ts, tie...) order deterministic
    # whatever the arrival order. Tie-breaker columns live in the data
    # slots (event-time keeps the single-order state layout: slot 0 =
    # integer-microsecond ts, which the watermark bisect and late-drop
    # read), so measures may reference them; only the ts column itself
    # stays un-measurable in event-time mode.
    multi_order = len(order_cols) > 1 and not event_time
    et_tie_cols = order_cols[1:] if event_time else []
    order_by = order_cols[0]

    fe, classifier = _compile(
        define, pattern, measures, after_match, all_rows, subsets, with_classifier
    )
    if _ends_extendable(fe.rx.pattern):
        raise ValueError(
            "streaming pattern must end with a non-extendable position "
            "(a trailing quantifier — even inside a group alternative or "
            "behind a nullable tail — can always extend into the next "
            "batch, so matches would be held until a later symbol "
            "arrives)"
        )
    nfa, sym_chars, fn_defines = fe.nfa, fe.sym_chars, fe.fn_defines
    # PREV()/NEXT() physical navigation (compile_condition exposes the
    # worst-case excursions): retain max_prev consumed rows as history so
    # PREV sees across the consumption boundary, and hold back max_next
    # tail rows whose forward navigation is still unresolved.
    max_prev = max(
        (getattr(d, "max_prev", 0) for d in fn_defines.values()), default=0
    )
    max_next = max(
        (getattr(d, "max_next", 0) for d in fn_defines.values()), default=0
    )

    measure_cols = fe.measure_cols
    keep = list(
        dict.fromkeys(
            [*part_cols, *order_cols, *measure_cols, *(predicate_cols or [])]
        )
    )
    if event_time and order_by in measure_cols:
        raise ValueError(
            "event_time mode holds the order column as integer "
            "microseconds in state; measures must not reference it"
        )
    proj = df.select(*keep, classifier.alias("__sym"))
    if event_time:
        proj = proj.withWatermark(order_by, watermark_delay)
    out_schema = fe.output_schema(proj.schema, part_cols, order_cols)
    out_cols = [f.name for f in out_schema.fields]
    state_schema = T.StructType([T.StructField("blob", T.StringType())])
    data_cols = [c for c in keep if c not in part_cols]
    # static column->state-slot map (shared by the scan, measures, and
    # the sort). Multi-order rows store every column ONCE in the data
    # slots (slot 0 stays None); the composite sort key is derived from
    # the slots, so compound ORDER BY does not widen state rows.
    if multi_order:
        col_idx = {c: 2 + i for i, c in enumerate(data_cols)}
        _order_slots = [col_idx[c] for c in order_cols]
    else:
        col_idx = {order_by: 0}
        for _i, _c in enumerate([c for c in data_cols if c != order_by]):
            col_idx[_c] = 2 + _i
    # event-time tie-breaker slots (empty unless compound event-time)
    _tie_slots = [col_idx[c] for c in et_tie_cols]
    # slot -> (encode, decode) for cells JSON cannot hold (the event-time
    # ts slot is already integer microseconds); other slots are stored
    # as they arrive
    codecs = {}
    for c, ci in col_idx.items():
        dt = proj.schema[c].dataType
        for types, enc, dec in _STATE_CODECS:
            if isinstance(dt, types) and not (event_time and c == order_by):
                codecs[ci] = (enc, dec)
    lk_slots = _order_slots if multi_order else [0]

    def _recode(rows, lk, way):
        """Encode (``way=0``) or decode (``way=1``) the ``codecs`` slots
        of state ``rows`` in place; returns the last-consumed sort key
        ``lk`` recoded the same way."""
        for r in rows:
            for ci, cd in codecs.items():
                v = r[ci]
                r[ci] = None if v is None or v != v else cd[way](v)
        if lk is None:
            return None
        ks = list(lk) if multi_order else [lk]
        for j, s in enumerate(lk_slots):
            if s in codecs and ks[j] is not None:
                ks[j] = codecs[s][way](ks[j])
        return ks if multi_order else ks[0]

    def _views(rows):
        return {c: [r[ci] for r in rows] for c, ci in col_idx.items()}

    def fn(key, pdfs, state):
        blob = json.loads(state.get[0]) if state.exists else {"rows": [], "mn": 0}
        if codecs:
            blob["lk"] = _recode(blob["rows"], blob.get("lk"), 1)
        rows = blob["rows"]  # [order_val, sym, *data_cols-values]
        # h = retained HISTORY rows at the buffer front: already consumed
        # (never rescanned), kept only so PREV() physical navigation can
        # see across the consumption boundary (empty unless max_prev > 0)
        h = blob.get("h", 0)
        # arrival-order contract (ADVICE r9): lk = the last CONSUMED
        # row's sort key; a new row sorting before it would need to
        # re-sort behind the consumption boundary — loud, not silent
        lk = blob.get("lk") if not event_time else None
        new_min = None
        wm_us = state.getCurrentWatermarkMs() * 1000 if event_time else None
        for pdf in pdfs:
            if event_time:
                # timestamps -> integer microseconds (JSON-safe state)
                pdf = pdf.assign(
                    **{
                        order_by: pdf[order_by]
                        .astype("datetime64[us]")
                        .astype("int64")
                    }
                )
            if multi_order:
                # every column stored once in the data slots; slot 0 is
                # unused (the composite sort key derives from the slots)
                pdf = pdf.sort_values(order_cols, kind="mergesort")
                for tup in pdf[["__sym", *data_cols]].itertuples(index=False):
                    vals = list(tup)
                    r = [None, vals[0], *vals[1:]]
                    k = [r[s] for s in _order_slots]
                    if new_min is None or k < new_min:
                        new_min = k
                    rows.append(r)
            else:
                pdf = pdf.sort_values(order_by, kind="mergesort")
                for tup in pdf[[order_by, "__sym", *[c for c in data_cols if c != order_by]]].itertuples(
                    index=False
                ):
                    vals = list(tup)
                    if wm_us is not None and vals[0] < wm_us:
                        continue  # late row: behind the watermark, dropped
                    if new_min is None or vals[0] < new_min:
                        new_min = vals[0]
                    rows.append([vals[0], vals[1], *vals[2:]])
        if lk is not None and new_min is not None and new_min < lk:
            raise ValueError(
                "arrival-order streaming MATCH_RECOGNIZE requires each "
                "key's rows to arrive in ORDER BY order across "
                f"micro-batches: got sort key {new_min!r} after rows up "
                f"to {lk!r} were already consumed by decided matches — "
                "use event_time=True for out-of-order sources"
            )
        if multi_order:
            rows.sort(key=lambda r: [r[s] for s in _order_slots])
        elif _tie_slots:
            # event-time compound: primary key is the integer-us ts in
            # slot 0 (the watermark bisect below stays valid), ties
            # resolve by the declared tie-breaker columns
            rows.sort(key=lambda r: [r[0], *(r[s] for s in _tie_slots)])
        else:
            rows.sort(key=lambda r: r[0])
        # the scan may only decide the prefix no future row can enter:
        # everything with ts < watermark (event-time), else the whole
        # buffer (in-order contract)
        n_scan = len(rows)
        if wm_us is not None:
            import bisect

            n_scan = bisect.bisect_left([r[0] for r in rows], wm_us)
        if max_next:
            # rows whose NEXT() navigation is still unresolved cannot be
            # classified yet — hold them out of the scannable region.
            # SUBTRACT from the already-final prefix, never min() against
            # the buffer end: in event-time mode rows at/after the
            # watermark are buffered but their PHYSICAL POSITION is not
            # final (a not-late row can still sort between them), so a
            # below-watermark row's NEXT() target must itself be below
            # the watermark before the row may be scanned.
            n_scan -= max_next
        n_scan = max(n_scan, h)
        syms = "".join(r[1] for r in rows)
        # buffered column views for match-state-dependent callables
        arrs = _views(rows) if fn_defines else None

        def can(sym, i, trail, s=syms):
            if sym in fn_defines:
                return bool(fn_defines[sym](arrs, i, trail_bindings(trail)))
            return s[i] == sym_chars[sym]

        decided, consumed = _stable_scan(
            nfa, n_scan, can, after_match, fe.skip_sym, fe.skip_first, start=h
        )
        if decided and not fn_defines:
            arrs = _views(rows)  # for the measure evaluators
            # no callable symbols: classifier chars attribute every row
            decided = [(lo, hi, None) for lo, hi, _ in decided]
        out = _match_rows(fe, key, decided, arrs, syms, order_cols, blob["mn"])
        blob["mn"] += len(decided)
        if not event_time and consumed > 0:
            last = rows[consumed - 1]
            blob["lk"] = (
                [last[s] for s in _order_slots] if multi_order else last[0]
            )
        keep_from = max(0, consumed - max_prev)
        blob["h"] = consumed - keep_from
        rows = rows[keep_from:]
        if len(rows) > max_buffer + max_prev:
            cut = len(rows) - (max_buffer + max_prev)
            rows = rows[cut:]
            blob["h"] = max(0, blob["h"] - cut)
        blob["rows"] = rows
        if codecs:
            blob["lk"] = _recode(rows, blob.get("lk"), 0)
        state.update((json.dumps(blob),))
        if out:
            res = pd.DataFrame(out, columns=out_cols)
            if all_rows and event_time:
                # state holds the order column as integer microseconds;
                # the output schema declares the original timestamp type
                res[order_by] = pd.to_datetime(res[order_by], unit="us")
            yield res

    return proj.groupBy(*[F.col(c) for c in part_cols]).applyInPandasWithState(
        fn, out_schema, state_schema, "Append", "NoTimeout"
    )
