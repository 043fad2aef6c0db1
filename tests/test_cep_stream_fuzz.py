"""Split-invariance fuzz for streaming MATCH_RECOGNIZE (plans/cep.py).

``match_recognize_stream`` claims: if the pattern ends at a
non-extendable position (``_ends_extendable`` is False), then running
the batch kernel incrementally — append chunk, finditer, emit, drop the
consumed prefix (AFTER MATCH SKIP PAST LAST ROW) — produces EXACTLY the
matches a single whole-sequence run produces, for every chunking.

That claim is the entire correctness argument for the streaming CEP
path, and it is pure string/regex logic, so hypothesis can attack it
directly without Spark: random patterns from the repo's
MATCH_RECOGNIZE grammar (quantifiers, bounded {n,m}, reluctant,
alternation groups), random symbol streams (including '.' rows that
match no define), random chunk boundaries. Patterns the guard rejects
(extendable ends) are skipped — they are exactly the ones the stream
API refuses at construction.

This mirrors the incremental loop of ``match_recognize_stream.fn``
(cep.py): same finditer, same consumed-prefix drop, same zero-length
skip. If someone edits the kernel's consumption logic, this fuzz breaks
unless whole-run equivalence still holds.
"""

from __future__ import annotations

from hypothesis import assume, given, settings
from hypothesis import strategies as st

from incubator_beam_spark.plans.cep import (
    _compile_pattern,
    _ends_extendable,
    _sym_chars,
)

SYMS = {"A": None, "B": None, "C": None}  # names only; chars via _sym_chars
CHARS = _sym_chars(SYMS)

atom = st.sampled_from(["A", "B", "C", "(A|B)", "(B|C)", "(A|B C)"])
quant = st.sampled_from(
    ["", "?", "*", "+", "*?", "+?", "??", "{2}", "{1,3}", "{2,}", "{1,3}?"]
)
patterns = st.lists(
    st.tuples(atom, quant).map("".join), min_size=1, max_size=4
).map(" ".join)

streams = st.text(alphabet="abc.", min_size=0, max_size=30)
# chunk sizes; consumed greedily until the stream is exhausted
chunkings = st.lists(st.integers(1, 8), min_size=1, max_size=30)


def whole_run(rx, s: str) -> list[tuple[int, int, int]]:
    out = []
    mn = 0
    for m in rx.finditer(s):
        if m.start() == m.end():
            continue
        mn += 1
        out.append((mn, m.start(), m.end()))
    return out


def incremental_run(pattern: str, s: str, sizes) -> list[tuple[int, int, int]]:
    """The REAL streaming consumption loop: per chunk arrival, run
    ``_stable_scan`` (the kernel's hold-until-decided scan) over the
    buffered tail, emit decided matches, drop the decided prefix."""
    from incubator_beam_spark.plans.cep import _stable_scan
    from incubator_beam_spark.plans.nfa import NFA

    nfa = NFA(pattern)
    out = []
    mn = 0
    buf = ""
    base = 0  # global offset of buf[0]
    pos = 0
    it = iter(sizes)
    while pos < len(s):
        try:
            k = next(it)
        except StopIteration:
            k = len(s) - pos  # final flush: deliver the rest
        buf += s[pos : pos + k]
        pos += k

        def can(sym, i, trail, b=buf):
            return b[i] == CHARS[sym]

        decided, boundary = _stable_scan(nfa, len(buf), can)
        for lo, hi, _assignment in decided:
            mn += 1
            out.append((mn, base + lo, base + hi))
        buf = buf[boundary:]
        base += boundary
    return out


@settings(max_examples=400, deadline=None)
@given(pattern=patterns, stream=streams, sizes=chunkings)
def test_stream_matches_equal_batch_matches(pattern, stream, sizes):
    """Split invariance of the kernel scan, for EVERY grammar pattern
    (including extendable ends the public constructor rejects): once a
    terminating no-match row arrives, the incremental emissions equal
    the whole-sequence run exactly; matches are never emitted that the
    whole run would not produce."""
    try:
        rx = _compile_pattern(pattern, CHARS)
    except ValueError:
        assume(False)
    s = stream.upper() + "."  # trailing no-match row decides every tail
    assert incremental_run(pattern, s, sizes) == whole_run(rx, s)


@settings(max_examples=200, deadline=None)
@given(pattern=patterns, stream=streams, sizes=chunkings)
def test_stream_never_emits_unconfirmed(pattern, stream, sizes):
    """Without a terminator, the held tail may delay matches but every
    emission must be a prefix of the whole-run match sequence."""
    try:
        rx = _compile_pattern(pattern, CHARS)
    except ValueError:
        assume(False)
    s = stream.upper()
    got = incremental_run(pattern, s, sizes)
    want = whole_run(rx, s)
    assert got == want[: len(got)]


# -- NFA vs host regex: grammar-wide differential ---------------------------
#
# test_cep.py pins 8 hand-picked quantifier shapes; this drives the SAME
# leftmost-greedy equivalence over hypothesis-generated pattern trees —
# every grammar production (bounded, reluctant, alternation over
# sequences, nested groups) against every random string.


@settings(max_examples=300, deadline=None)
@given(pattern=patterns, stream=streams)
def test_nfa_matches_host_regex_grammar_wide(pattern, stream):
    import re as _re

    from incubator_beam_spark.plans.nfa import NFA

    try:
        rx = _re.compile(_compile_pattern(pattern, CHARS))
        nfa = NFA(pattern)
    except ValueError:
        assume(False)
    s = stream.upper()

    def can(sym, i, trail, s=s):
        return s[i] == CHARS[sym]

    got = [(lo, hi) for lo, hi, _ in nfa.finditer(len(s), can)]
    want = [(m.start(), m.end()) for m in rx.finditer(s) if m.end() > m.start()]
    assert got == want, (pattern, s)


# ---------------------------------------------------------------------------
# Independent-reference differential for the NFA + match-state-dependent
# predicates (the round-7 cross-symbol DEFINE path): a ~35-line
# continuation-passing backtracking matcher implements leftmost-greedy
# semantics directly over the pattern AST; the Pike-VM NFA must produce
# identical non-overlapping matches on random value sequences.
# ---------------------------------------------------------------------------


def _ref_match_at(ast, n, can, lo):
    """Leftmost-greedy anchored match via direct CPS backtracking —
    independent of the NFA's thread-priority machinery."""

    def node_matcher(node):
        kind = node[0]
        if kind == "sym":
            sym = node[1]

            def m(pos, trail, k):
                if pos < n and can(sym, pos, trail):
                    return k(pos + 1, (sym, pos, trail))
                return None

            return m
        if kind == "seq":
            ms = [node_matcher(c) for c in node[1]]

            def m(pos, trail, k, ms=ms):
                def chain(i):
                    if i == len(ms):
                        return k

                    def kk(p, t, i=i):
                        return ms[i](p, t, chain(i + 1))

                    return kk

                return chain(0)(pos, trail)

            return m
        if kind == "alt":
            ms = [node_matcher(c) for c in node[1]]

            def m(pos, trail, k, ms=ms):
                for mm in ms:  # declaration order == priority
                    r = mm(pos, trail, k)
                    if r is not None:
                        return r
                return None

            return m
        if kind == "quant":
            inner = node_matcher(node[1])
            mn, mx, greedy = node[2]

            def m(pos, trail, k):
                def rep(cnt):
                    # kk runs AFTER the cnt-th repetition completed
                    def kk(p, t):
                        more = (
                            (lambda: inner(p, t, rep(cnt + 1)))
                            if (mx is None or cnt + 1 <= mx)
                            else (lambda: None)
                        )
                        done = (lambda: k(p, t)) if cnt >= mn else (lambda: None)
                        first, second = (more, done) if greedy else (done, more)
                        r = first()
                        return r if r is not None else second()

                    return kk

                # zero repetitions
                if mn == 0:
                    if greedy:
                        r = inner(pos, trail, rep(1)) if (mx is None or mx >= 1) else None
                        return r if r is not None else k(pos, trail)
                    r = k(pos, trail)
                    return r if r is not None else (
                        inner(pos, trail, rep(1)) if (mx is None or mx >= 1) else None
                    )
                return inner(pos, trail, rep(1))

            return m
        raise AssertionError(node)

    matcher = node_matcher(ast)
    return matcher(lo, None, lambda p, t: (p, t))


def _ref_finditer(ast, n, can):
    out, i = [], 0
    while i < n:
        m = _ref_match_at(ast, n, can, i)
        if m is not None and m[0] == i:
            m = None  # zero-width: the kernels retry non-empty; for the
            # patterns generated below a zero-width hit never precedes a
            # non-empty one at the same position (anchor consumes), so skip
        if m is None:
            i += 1
            continue
        trail, pairs = m[1], []
        while trail is not None:
            pairs.append((trail[1], trail[0]))
            trail = trail[2]
        pairs.reverse()
        out.append((i, m[0], pairs))
        i = m[0]
    return out


@settings(max_examples=300, deadline=None)
@given(
    vals=st.lists(st.integers(0, 9), min_size=1, max_size=24),
    tags=st.lists(st.sampled_from("axx"), min_size=1, max_size=24),
    pat=st.sampled_from(
        ["A D+ R", "A D{1,3} R", "A D* R", "A (D|R)+", "A D+ R?", "A D{2} R+"]
    ),
)
def test_nfa_cross_symbol_matches_reference(vals, tags, pat):
    """The Pike-VM NFA with match-state-dependent predicates must equal
    the independent CPS reference matcher on random sequences: same
    spans AND same symbol assignments (leftmost-greedy, non-overlapping,
    skip past last row)."""
    from incubator_beam_spark.plans.nfa import NFA, parse_pattern, trail_bindings

    n = min(len(vals), len(tags))
    vals, tags = vals[:n], tags[:n]

    # reference can() receives raw trail nodes (sym,pos,parent) — adapt
    def can_ref(sym, i, trail):
        b: dict = {}
        t = trail
        while t is not None:
            b.setdefault(t[0], []).append(t[1])
            t = t[2]
        for v in b.values():
            v.reverse()
        return _can_dict(sym, i, b)

    def _can_dict(sym, i, b):
        if sym == "A":
            return tags[i] == "a"
        a = b.get("A")
        if not a:
            return False
        if sym == "D":
            return vals[i] < vals[a[-1]]
        return vals[i] > vals[a[-1]]

    def can_nfa(sym, i, trail):
        return _can_dict(sym, i, trail_bindings(trail))

    nfa = NFA(pat)
    got = list(nfa.finditer(n, can_nfa))
    want = _ref_finditer(parse_pattern(pat), n, can_ref)
    assert got == want, (pat, vals, tags)


def incremental_run_with_assignment(pattern: str, s: str, sizes):
    """Like ``incremental_run`` but keeps each decided match's symbol
    ASSIGNMENT (globally re-based): every streaming MEASURE — counts,
    FIRST/LAST navigation, aggregates — is computed FROM the
    assignment, so split-invariance of spans alone is not enough; a
    batch boundary that shifted attribution by one row would corrupt
    measures while leaving spans intact."""
    from incubator_beam_spark.plans.cep import _stable_scan
    from incubator_beam_spark.plans.nfa import NFA

    nfa = NFA(pattern)
    out = []
    buf = ""
    base = 0
    pos = 0
    it = iter(sizes)
    while pos < len(s):
        try:
            k = next(it)
        except StopIteration:
            k = len(s) - pos
        buf += s[pos : pos + k]
        pos += k

        def can(sym, i, trail, b=buf):
            return b[i] == CHARS[sym]

        decided, boundary = _stable_scan(nfa, len(buf), can)
        for lo, hi, assignment in decided:
            out.append(
                (base + lo, base + hi, tuple((base + r, y) for r, y in assignment))
            )
        buf = buf[boundary:]
        base += boundary
    return out


@settings(max_examples=400, deadline=None)
@given(pattern=patterns, stream=streams, sizes=chunkings)
def test_stream_assignment_equals_batch_assignment(pattern, stream, sizes):
    """Split invariance of the full (span, per-row symbol attribution)
    result: the incremental hold-until-decided scan under ANY chunking
    must attribute every matched row to the same symbol as one
    whole-buffer scan. Guards the streaming measure path end to end —
    prefix drops re-base the buffer, and a re-basing bug would show up
    here as a shifted (row, symbol) pair."""
    from incubator_beam_spark.plans.cep import _stable_scan
    from incubator_beam_spark.plans.nfa import NFA

    try:
        NFA(pattern)
    except ValueError:
        assume(False)
    nfa = NFA(pattern)
    s = stream.upper() + "."  # trailing no-match row decides every tail

    def can(sym, i, trail, b=s):
        return b[i] == CHARS[sym]

    whole, boundary = _stable_scan(nfa, len(s), can)
    assert boundary == len(s)  # terminated buffer fully decides
    want = [
        (lo, hi, tuple((r, y) for r, y in assignment))
        for lo, hi, assignment in whole
    ]
    got = incremental_run_with_assignment(pattern, s, sizes)
    assert got == want


# ---------------------------------------------------------------------------
# AFTER MATCH SKIP modes (round-8 streaming lift): the incremental
# _stable_scan restart policy must equal an INDEPENDENT host-regex
# implementation of the same SQL clause (the batch fast path's
# char-scan restarts — C regex engine + str.find, no NFA machinery),
# under every chunking. Errors (skip target absent / would re-match the
# same starting row) must coincide: both raise on the same match, and
# everything the incremental loop flushed before its dying micro-batch
# must be a prefix of the whole-run output.
# ---------------------------------------------------------------------------


def whole_run_skip(rx, s, skip_ch, skip_first):
    """Host-regex reference for TO NEXT ROW / TO FIRST|LAST <sym>:
    restart one past the match start, or at the first/last row of the
    skip symbol (char scan — symbol chars are bijective here). Returns
    (matches, err) where err is set when the SQL clause's error cases
    fire (target absent / same starting row)."""
    out = []
    mn = 0
    pos = 0
    while pos < len(s):
        m = rx.search(s, pos)
        if m is None:
            return out, None
        lo, hi = m.start(), m.end()
        if hi == lo:
            pos = lo + 1
            continue
        mn += 1
        out.append((mn, lo, hi))
        if skip_ch is None:
            pos = lo + 1
        else:
            t = s.find(skip_ch, lo, hi) if skip_first else s.rfind(skip_ch, lo, hi)
            if t < 0:
                return out, "absent"
            if t == lo:
                return out, "same-start"
            pos = t
    return out, None


def incremental_run_skip(pattern, s, sizes, after_match, skip_sym, skip_first):
    """The REAL streaming consumption loop under a skip mode: per chunk,
    _stable_scan with the restart policy, flush decided matches, drop
    the decided prefix. A ValueError mid-scan kills that micro-batch —
    its decided-so-far matches are lost, exactly like the live kernel —
    so the return is (flushed-before-error, err_flag)."""
    from incubator_beam_spark.plans.cep import _stable_scan
    from incubator_beam_spark.plans.nfa import NFA

    nfa = NFA(pattern)
    out = []
    mn = 0
    buf = ""
    base = 0
    pos = 0
    it = iter(sizes)
    while pos < len(s):
        try:
            k = next(it)
        except StopIteration:
            k = len(s) - pos
        buf += s[pos : pos + k]
        pos += k

        def can(sym, i, trail, b=buf):
            return b[i] == CHARS[sym]

        try:
            decided, boundary = _stable_scan(
                nfa, len(buf), can, after_match, skip_sym, skip_first
            )
        except ValueError:
            return out, True
        for lo, hi, _assignment in decided:
            mn += 1
            out.append((mn, base + lo, base + hi))
        buf = buf[boundary:]
        base += boundary
    return out, False


skip_modes = st.sampled_from(
    [
        ("to next row", None, False),
        ("to first A", "A", True),
        ("to last A", "A", False),
        ("to first B", "B", True),
        ("to last B", "B", False),
        ("to last C", "C", False),
    ]
)


@settings(max_examples=400, deadline=None)
@given(pattern=patterns, stream=streams, sizes=chunkings, mode=skip_modes)
def test_stream_skip_modes_equal_host_reference(pattern, stream, sizes, mode):
    """Non-nullable patterns only — exactly the set the batch kernel's
    host-regex fast path handles under skip modes (``force_nfa`` routes
    nullable+skip to the NFA: a nullable pattern's zero-width hit takes
    a require-consume retry the C engine's plain search-from-pos loop
    does not). Nullable patterns get the chunking-invariance check
    below instead."""
    from incubator_beam_spark.plans.cep import _is_nullable

    after_match, skip_sym, skip_first = mode
    try:
        rx = _compile_pattern(pattern, CHARS)
    except ValueError:
        assume(False)
    assume(not _is_nullable(rx.pattern))
    s = stream.upper() + "."  # trailing no-match row decides every tail
    skip_ch = CHARS[skip_sym] if skip_sym else None
    want, werr = whole_run_skip(rx, s, skip_ch, skip_first)
    got, gerr = incremental_run_skip(
        pattern, s, sizes, after_match, skip_sym, skip_first
    )
    if werr:
        # the error fires on a DECIDED match (the terminator decides
        # everything), so the incremental loop must die too; whatever it
        # flushed first is a prefix of the reference sequence
        assert gerr and got == want[: len(got)], (pattern, s, mode)
    else:
        assert not gerr and got == want, (pattern, s, mode)


def ref_run_skip(pattern, s, after_match, skip_sym, skip_first):
    """Whole-sequence reference for the skip-mode scan over ANY pattern
    (nullable included): the kernels' skip-restart policy (``_restart``)
    with the error cases returned as a flag INSTEAD of raising, so matches
    decided before the error survive for the prefix comparison (a
    raising scan discards its own decided-so-far list — real kernel
    behavior, useless as an oracle)."""
    from incubator_beam_spark.plans.nfa import NFA

    nfa = NFA(pattern)
    n = len(s)

    def can(sym, i, trail, b=s):
        return b[i] == CHARS[sym]

    out, mn, i = [], 0, 0
    while i < n:
        m = nfa.match_at(i, n, can)
        if m is not None and m[0] == i:
            m = nfa.match_at(i, n, can, require_consume=True)
        if m is None or m[0] == i:
            i += 1
            continue
        mn += 1
        out.append((mn, i, m[0]))
        if after_match == "past last row":
            i = m[0]
        elif skip_sym is None:
            i += 1
        else:
            ps = [idx for idx, sy in m[1] if sy == skip_sym]
            if not ps:
                return out, True  # skip target absent from match
            t = ps[0] if skip_first else ps[-1]
            if t == i:
                return out, True  # would re-match the same starting row
            i = t
    return out, False


@settings(max_examples=400, deadline=None)
@given(pattern=patterns, stream=streams, sizes=chunkings, mode=skip_modes)
def test_stream_skip_modes_chunking_invariant(pattern, stream, sizes, mode):
    """EVERY grammar pattern (nullable included): under a skip mode the
    incremental emissions must equal the whole-sequence reference scan
    — the property streaming adds over batch. Error outcomes must
    coincide (the terminator decides everything, so an error-producing
    match is always eventually decided); the incremental loop's dying
    micro-batch loses its own decided matches, so its flushed output is
    a PREFIX of the reference sequence, with how much survives
    legitimately chunking-dependent."""
    from incubator_beam_spark.plans.nfa import NFA

    after_match, skip_sym, skip_first = mode
    try:
        _compile_pattern(pattern, CHARS)
        NFA(pattern)
    except ValueError:
        assume(False)
    s = stream.upper() + "."
    want, werr = ref_run_skip(pattern, s, after_match, skip_sym, skip_first)
    got, gerr = incremental_run_skip(
        pattern, s, sizes, after_match, skip_sym, skip_first
    )
    if werr:
        assert gerr and got == want[: len(got)], (pattern, s, mode)
    else:
        assert not gerr and got == want, (pattern, s, mode)


# -- Targeted skip-boundary cases (VERDICT r8 item 7) ------------------------
#
# Random chunking under-samples the ONE shape where the restart policy
# and the stability probe interact hardest: the SKIP TO FIRST/LAST
# restart row is the LAST row of a micro-batch, so the probe must hold
# the restarted scan (a match could begin at the restart row and extend
# into the next batch) without re-emitting or skipping the decided
# match. Enumerate that shape deterministically: for every decided
# match of every case, chunk exactly AT the restart row (and one row
# either side).


def test_skip_restart_row_at_batch_boundary():
    cases = [
        # S D D, skip to last D: restart lands mid-pattern of the next
        # candidate region
        ("A B B", "ABBABB.", "to last B", "B", False),
        ("A B B", "ABBBABB.", "to last B", "B", False),
        # skip to first D: restart immediately after the match start
        ("A B B", "ABBABBABB.", "to first B", "B", True),
        # H H with skip to LAST H: restart at the second row of the
        # match — overlapping matches sharing a row
        ("A A", "AAAA.", "to last A", "A", False),
        # alternation + bounded quantifier under both skip targets
        ("A (B|C){1,2}", "ABCABCB.", "to last B", "B", False),
        ("A (B|C){1,2}", "ACBACB.", "to first C", "C", True),
    ]
    for pattern, s, after_match, skip_sym, skip_first in cases:
        rx = _compile_pattern(pattern, CHARS)
        skip_ch = CHARS[skip_sym]
        want, werr = whole_run_skip(rx, s, skip_ch, skip_first)
        assert werr is None, f"bad case (reference errored): {pattern} {s}"
        assert want, f"bad case (no matches): {pattern} {s}"
        # restart positions implied by the policy for each match
        restarts = []
        for _mn, lo, hi in want:
            t = s.find(skip_ch, lo, hi) if skip_first else s.rfind(skip_ch, lo, hi)
            restarts.append(t)
        for t in restarts:
            for cut in (t, t + 1, t + 2):  # boundary ON, just-past, after
                if not 0 < cut < len(s):
                    continue
                sizes = [cut, len(s) - cut]
                got, gerr = incremental_run_skip(
                    pattern, s, sizes, after_match, skip_sym, skip_first
                )
                assert not gerr and got == want, (
                    pattern, s, after_match, skip_first, sizes, got, want,
                )


# -- PREV()/NEXT() physical navigation under chunking (r9 lift) --------------
#
# The streaming kernel's claim for nav defines: retaining max_prev
# consumed rows as history and holding back max_next unresolved-lead
# tail rows makes the incremental run equal the whole-sequence run for
# every chunking. The consumption math below replicates
# match_recognize_stream.fn exactly (h/keep_from/n_scan); the compiled
# conditions are the REAL cepdefine callables.


def _nav_defines(exprs):
    from incubator_beam_spark.plans.cepdefine import compile_condition

    syms = set(exprs)
    return {
        sym: compile_condition(cond, sym, syms) for sym, cond in exprs.items()
    }


def incremental_nav_run(pattern, vals, sizes, defines):
    from incubator_beam_spark.plans.cep import _stable_scan
    from incubator_beam_spark.plans.nfa import NFA, trail_bindings

    max_prev = max(d.max_prev for d in defines.values())
    max_next = max(d.max_next for d in defines.values())
    nfa = NFA(pattern)
    out, mn = [], 0
    buf: list = []
    base = 0  # global index of buf[0]
    h = 0  # retained-history rows at the buffer front
    pos = 0
    it = iter(sizes)
    while pos < len(vals):
        try:
            k = next(it)
        except StopIteration:
            k = len(vals) - pos
        buf = buf + list(vals[pos : pos + k])
        pos += k
        arrs = {"value": buf}

        def can(sym, i, trail, a=arrs):
            fn = defines.get(sym)
            return bool(fn(a, i, trail_bindings(trail))) if fn else False

        n_scan = max(len(buf) - max_next, h)
        decided, consumed = _stable_scan(nfa, n_scan, can, start=h)
        for lo, hi, _assignment in decided:
            mn += 1
            out.append((mn, base + lo, base + hi))
        keep_from = max(0, consumed - max_prev)
        h = consumed - keep_from
        buf = buf[keep_from:]
        base += keep_from
    return out


def whole_nav_run(pattern, vals, classify):
    """Batch reference: per-row classification is position-determined
    (nav sees the whole sequence), then plain finditer."""
    s = "".join(classify(vals, i) for i in range(len(vals)))
    rx = _compile_pattern(pattern, {"D": "D", "U": "U", "P": "P"})
    return whole_run(rx, s)


_NAV_EXPRS = {
    "D": "value < PREV(value)",
    "U": "value > PREV(value)",
    "P": "value > PREV(value) AND value > NEXT(value)",
}


def _classify(vals, i):
    d = i > 0 and vals[i] < vals[i - 1]
    u = i > 0 and vals[i] > vals[i - 1]
    p = u and i + 1 < len(vals) and vals[i] > vals[i + 1]
    # precedence mirrors symbol identity (defines are independent): a
    # row can satisfy several; the char string needs ONE char per row,
    # so each pattern below uses symbols with disjoint satisfaction or
    # we classify per-pattern
    return "D" if d else ("P" if p else ("U" if u else "."))


nav_vals = st.lists(st.integers(0, 4), min_size=0, max_size=24)


@settings(max_examples=300, deadline=None)
@given(vals=nav_vals, sizes=chunkings)
def test_stream_prev_nav_equals_batch(vals, sizes):
    """``D+ U`` with PREV defines: incremental (history-retaining) run
    == whole-sequence run, every chunking. The trailing no-match row
    decides every tail."""
    vals = [*vals, 99, 99]  # 99,99: final rows are U then '.', deciding tails
    defines = _nav_defines({k: _NAV_EXPRS[k] for k in ("D", "U")})

    def classify(vs, i):
        if i > 0 and vs[i] < vs[i - 1]:
            return "D"
        if i > 0 and vs[i] > vs[i - 1]:
            return "U"
        return "."

    got = incremental_nav_run("D+ U", vals, sizes, defines)
    want = whole_nav_run("D+ U", vals, classify)
    assert got == want, (vals, sizes)


@settings(max_examples=300, deadline=None)
@given(vals=nav_vals, sizes=chunkings)
def test_stream_next_nav_prefix_of_batch(vals, sizes):
    """``P`` (a peak: above both physical neighbors) uses NEXT: the
    held-back tail may delay emission, but every emission equals the
    batch run's prefix; with two terminator rows appended the runs are
    EQUAL except the final row (whose NEXT never resolves — and which
    the batch reference also never classifies as a peak since a
    terminator cannot out-rank 99)."""
    vals = [*vals, 99, 0, 0]  # peak-proof tail: 0,0 cannot be peaks
    defines = _nav_defines({"P": _NAV_EXPRS["P"]})

    def classify(vs, i):
        u = i > 0 and vs[i] > vs[i - 1]
        return "P" if (u and i + 1 < len(vs) and vs[i] > vs[i + 1]) else "."

    got = incremental_nav_run("P", vals, sizes, defines)
    want = whole_nav_run("P", vals, classify)
    # the last buffered row's NEXT never resolves, so it can never emit
    # incrementally — but the appended 0,0 tail means no peak lives
    # there, so the runs must be exactly equal
    assert got == want, (vals, sizes)


# -- compound ORDER BY x PREV/NEXT navigation (r10; verdict r9 item 7) --------
#
# The composite-sort-key derivation is most likely to diverge from
# batch where TIES meet navigation: a micro-batch delivers its rows in
# arbitrary INTRA-batch order, the kernel re-sorts the buffer by the
# composite key, and PREV/NEXT address the SORTED physical rows — so a
# wrong tie resolution flips a D/U/P classification. This differential
# randomizes the tie density (first-order-column group sizes), the
# intra-batch arrival permutation, and the chunk boundaries, and runs
# the REAL cepdefine callables through the kernel's exact
# sort-merge-scan-consume math against the whole-sequence reference.


def incremental_compound_nav_run(pattern, rows, sizes, defines, rng):
    """rows: [(k1, k2, value)] in GLOBAL composite order (the enforced
    cross-batch arrival contract); each chunk is delivered in a random
    intra-batch permutation, then the buffer re-sorts by the composite
    key exactly as match_recognize_stream.fn does (stable sort over
    [key columns] — arrival position is NOT part of the key)."""
    from incubator_beam_spark.plans.cep import _stable_scan
    from incubator_beam_spark.plans.nfa import NFA, trail_bindings

    max_prev = max(d.max_prev for d in defines.values())
    max_next = max(d.max_next for d in defines.values())
    nfa = NFA(pattern)
    out, mn = [], 0
    buf: list = []
    h = 0
    consumed_keys = 0  # total rows ever dropped from the buffer front
    pos = 0
    it = iter(sizes)
    while pos < len(rows):
        try:
            k = next(it)
        except StopIteration:
            k = len(rows) - pos
        chunk = list(rows[pos : pos + k])
        rng.shuffle(chunk)  # intra-batch order is free
        pos += k
        buf = buf + chunk
        buf.sort(key=lambda r: [r[0], r[1]])  # the kernel's composite sort
        arrs = {"value": [r[2] for r in buf]}

        def can(sym, i, trail, a=arrs):
            fn = defines.get(sym)
            return bool(fn(a, i, trail_bindings(trail))) if fn else False

        n_scan = max(len(buf) - max_next, h)
        decided, consumed = _stable_scan(nfa, n_scan, can, start=h)
        for lo, hi, _assignment in decided:
            mn += 1
            out.append((mn, consumed_keys + lo, consumed_keys + hi))
        keep_from = max(0, consumed - max_prev)
        h = consumed - keep_from
        buf = buf[keep_from:]
        consumed_keys += keep_from
    return out


# tie GROUP sizes for the first order column: group g holds the next
# `size` rows as (g, 0), (g, 1), ... — composite keys stay unique (the
# fully-tied case has no specified order), ties live in column 1
tie_groups = st.lists(st.integers(1, 4), min_size=0, max_size=12)
payloads = st.lists(st.integers(0, 4), min_size=0, max_size=24)


def _keyed_rows(vals, groups):
    rows, g, j = [], 0, 0
    sizes = iter(groups)
    cap = next(sizes, 1)
    for v in vals:
        if j >= cap:
            g, j, cap = g + 1, 0, next(sizes, 1)
        rows.append((g, j, v))
        j += 1
    return rows


@settings(max_examples=250, deadline=None)
@given(
    vals=payloads, groups=tie_groups, sizes=chunkings,
    seed=st.integers(0, 2**32 - 1),
)
def test_stream_compound_order_prev_nav_equals_batch(vals, groups, sizes, seed):
    """``D+ U`` with PREV defines over a COMPOUND order key: the
    incremental run (random tie density, random intra-batch
    permutation, random chunking) == the whole-sequence run."""
    import random

    vals = [*vals, 99, 99]  # deciding tail (U then '.')
    rows = _keyed_rows(vals, groups)
    defines = _nav_defines({k: _NAV_EXPRS[k] for k in ("D", "U")})

    def classify(vs, i):
        if i > 0 and vs[i] < vs[i - 1]:
            return "D"
        if i > 0 and vs[i] > vs[i - 1]:
            return "U"
        return "."

    got = incremental_compound_nav_run(
        "D+ U", rows, sizes, defines, random.Random(seed)
    )
    want = whole_nav_run("D+ U", vals, classify)
    assert got == want, (vals, groups, sizes, seed)


@settings(max_examples=250, deadline=None)
@given(
    vals=payloads, groups=tie_groups, sizes=chunkings,
    seed=st.integers(0, 2**32 - 1),
)
def test_stream_compound_order_next_nav_equals_batch(vals, groups, sizes, seed):
    """``P`` (peak via PREV AND NEXT) over a COMPOUND order key: the
    NEXT holdback must interact correctly with rows that re-sorted
    inside their tie group before classification."""
    import random

    vals = [*vals, 99, 0, 0]  # peak-proof tail
    rows = _keyed_rows(vals, groups)
    defines = _nav_defines({"P": _NAV_EXPRS["P"]})

    def classify(vs, i):
        u = i > 0 and vs[i] > vs[i - 1]
        return "P" if (u and i + 1 < len(vs) and vs[i] > vs[i + 1]) else "."

    got = incremental_compound_nav_run(
        "P", rows, sizes, defines, random.Random(seed)
    )
    want = whole_nav_run("P", vals, classify)
    assert got == want, (vals, groups, sizes, seed)


# -- excursion-algebra soundness (r10; the max-over-paths rewrite) ------------
#
# The streaming kernel's retention contract: a row's nav condition may
# be evaluated against ONLY the buffer window [i - max_prev,
# i + max_next] — history before that is GC'd and rows beyond are held
# back. If compile_condition ever under-counts an excursion, a
# truncated window changes the verdict. This differential generates
# random nav expression TREES (nested/sibling PREV/NEXT with offsets,
# arithmetic), evaluates the REAL compiled callable on the full array
# and on the exact retention window, and requires identical results at
# every interior position.


def _rand_nav_expr(rng, depth):
    if depth == 0 or rng.random() < 0.3:
        return "v"
    kind = rng.randrange(3)
    if kind == 0:
        off = rng.randrange(0, 4)
        inner = _rand_nav_expr(rng, depth - 1)
        return f"PREV({inner}, {off})"
    if kind == 1:
        off = rng.randrange(0, 4)
        inner = _rand_nav_expr(rng, depth - 1)
        return f"NEXT({inner}, {off})"
    return (
        f"{_rand_nav_expr(rng, depth - 1)} + {_rand_nav_expr(rng, depth - 1)}"
    )


@settings(max_examples=400, deadline=None)
@given(
    seed=st.integers(0, 2**32 - 1),
    vals=st.lists(st.integers(0, 9), min_size=1, max_size=14),
    thr=st.integers(0, 20),
)
def test_nav_excursion_bounds_are_sufficient(seed, vals, thr):
    import random

    from incubator_beam_spark.plans.cepdefine import compile_condition

    rng = random.Random(seed)
    cond = f"{_rand_nav_expr(rng, 3)} > {thr}"
    fn = compile_condition(cond, "X", {"X"})
    mp, mn = fn.max_prev, fn.max_next
    full = {"v": list(vals)}
    n = len(vals)
    for i in range(mp, n - mn):
        window = {"v": vals[i - mp : i + mn + 1]}
        got_full = fn(full, i, {})
        got_win = fn(window, mp, {})
        assert got_full == got_win, (
            f"{cond!r}: position {i} differs on the retention window "
            f"[{i - mp}, {i + mn}] (max_prev={mp}, max_next={mn}) — "
            f"excursion under-counted"
        )
