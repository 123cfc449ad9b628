"""Property-based tests (hypothesis) for the pure-Python pieces of the
InfluxQL front-end — no SparkSession needed, so these run in
milliseconds and explore far more of the input space than the
example-based suites: the arithmetic expression parser must agree
with Python's own evaluator on every generated expression, and the
quote/paren-aware splitters must partition without losing characters.
"""

import math
import os
import sys

from hypothesis import given, settings
from hypothesis import strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cflux_spark.plans.influxql import (  # noqa: E402
    InfluxQLError,
    _parse_arith,
    _parse_show,
    _split_on_word,
)


# ---------------------------------------------------------- arithmetic


def _eval(node, env):
    kind = node[0]
    if kind == "num":
        return node[1]
    if kind == "field":
        return env[node[1]]
    if kind == "agg":
        return env[(node[1], node[2])]
    if kind == "neg":
        return -_eval(node[1], env)
    op, left, right = node[1], _eval(node[2], env), _eval(node[3], env)
    if op == "+":
        return left + right
    if op == "-":
        return left - right
    if op == "*":
        return left * right
    return left / right


@st.composite
def arith_exprs(draw, depth=0):
    """Random arithmetic over two fields and numeric literals, as both
    source text and expected value under a fixed environment."""
    env = {"user": 3.5, "sys": -2.25}
    if depth >= 3 or draw(st.booleans()):
        leaf = draw(st.sampled_from(["num", "user", "sys"]))
        if leaf == "num":
            v = draw(st.integers(min_value=0, max_value=999))
            return f"{v}", float(v)
        return leaf, env[leaf]
    op = draw(st.sampled_from("+-*/"))
    ls, lv = draw(arith_exprs(depth=depth + 1))
    rs, rv = draw(arith_exprs(depth=depth + 1))
    if op == "/" and rv == 0:
        op = "+"
    text = f"({ls} {op} {rs})"
    return text, _eval(("op", op, ("num", lv), ("num", rv)), {})


@settings(max_examples=300, deadline=None)
@given(arith_exprs())
def test_parse_arith_agrees_with_python_eval(case):
    text, want = case
    node = _parse_arith(text)
    env = {"user": 3.5, "sys": -2.25}
    got = _eval(node, env)
    assert math.isclose(got, want, rel_tol=1e-12, abs_tol=1e-12), (text, got, want)


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet="()+-*/ 1ab\"'", max_size=24))
def test_parse_arith_never_hangs_or_crashes_unexpectedly(s):
    """Arbitrary operator soup either parses or raises InfluxQLError —
    never an IndexError/ValueError/infinite loop."""
    try:
        _parse_arith(s)
    except InfluxQLError:
        pass


# ------------------------------------------------------------ splitters


def _well_formed(s: str) -> bool:
    """Quote state closed and parens balanced OUTSIDE quotes, under
    the same scanning rules the splitter uses."""
    quote = None
    depth = 0
    for c in s:
        if quote:
            if c == quote:
                quote = None
        elif c in "'\"":
            quote = c
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth < 0:
                return False
    return quote is None and depth == 0


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.text(alphabet="ab'\"() =", min_size=1, max_size=12).filter(
            lambda s: _well_formed(s) and "AND" not in s.upper()
        ),
        min_size=1,
        max_size=5,
    )
)
def test_split_on_word_partitions_without_loss(parts):
    """Joining balanced AND-free fragments with ' AND ' and splitting
    again recovers exactly the fragments (the paren/quote awareness
    must not eat or duplicate characters)."""
    joined = " AND ".join(parts)
    got = _split_on_word(joined, "AND")
    assert [g.strip() for g in got] == [p.strip() for p in parts], joined


# ---------------------------------------------------------- SHOW clauses

# quoted tag values: anything printable except the quote itself —
# including the clause keywords the old regex carver choked on
_SHOW_VALUE = st.text(
    alphabet="abcWHERELIMITOFSshow ()=~.0123456789", min_size=1, max_size=20
)


@settings(max_examples=300, deadline=None)
@given(
    val=_SHOW_VALUE,
    limit=st.one_of(st.none(), st.integers(0, 99)),
    offset=st.one_of(st.none(), st.integers(0, 99)),
)
def test_parse_show_carves_clauses_exactly(val, limit, offset):
    """Round-trip property for the quote-aware SHOW tokenizer: a
    statement assembled from a quoted WHERE value (which may contain
    keyword lookalikes like ' LIMIT 5') plus optional LIMIT/OFFSET
    tails decomposes into exactly those pieces — the WHERE text keeps
    its quotes intact and keyword text inside quotes never becomes a
    clause."""
    qs = f"SHOW MEASUREMENTS WHERE label = '{val}'"
    if limit is not None:
        qs += f" LIMIT {limit}"
    if offset is not None:
        qs += f" OFFSET {offset}"
    sc = _parse_show(qs)
    assert sc.where == f"label = '{val}'"
    assert sc.limit == limit and sc.offset == offset
    assert sc.head == "SHOW MEASUREMENTS"


@settings(max_examples=200, deadline=None)
@given(name=st.text(alphabet="ab c.d-0", min_size=1, max_size=15))
def test_parse_show_from_name_survives_quoting(name):
    """FROM "any name" round-trips through from_name verbatim —
    spaces, dots and dashes included (quoted identifiers must not be
    split on '.')."""
    sc = _parse_show(f'SHOW TAG KEYS FROM "{name}" LIMIT 3')
    assert sc.from_name == name and sc.limit == 3


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet="ab()'\" ANDOR=", max_size=40))
def test_split_on_word_conserves_characters(s):
    """Whatever the input, the split never loses non-keyword text:
    rejoining with the keyword has the same length as the input."""
    got = _split_on_word(s, "AND")
    assert len(" AND".join(got)) >= len(s) - 4  # at most trailing keyword slack
    assert sum(len(g) for g in got) <= len(s)


# ------------------------------------------------ behavioral identities
# The round-12 behavioral operators rest on three closed-form
# identities (extensions/behavior.py, extensions/stats.py). The Spark
# implementations are direct transcriptions; these properties verify
# the IDENTITIES themselves against brute force over random inputs
# (pure Python — no SparkSession, milliseconds per case).


@given(
    st.lists(st.sampled_from("abx"), min_size=0, max_size=14),
    st.integers(min_value=1, max_value=5),
)
@settings(max_examples=300, deadline=None)
def test_funnel_max_chain_start_dp_equals_brute_force(seq, window):
    """window_funnel's DP (carry the MAX valid chain-start time) must
    equal the brute-force 'exists an ordered chain within window'
    level, for 3 steps over all event orderings. Times = indices."""
    steps = ["a", "b", "x"]

    # brute force: max k such that i1 < i2 < ... < ik with matching
    # steps and t_k - t_1 <= window
    def brute():
        best = 0
        n = len(seq)

        def extend(level, last_i, start_i):
            nonlocal best
            best = max(best, level)
            if level == 3:
                return
            for j in range(last_i + 1, n):
                if seq[j] == steps[level] and (
                    level == 0 or j - start_i <= window
                ):
                    extend(level + 1, j, j if level == 0 else start_i)

        extend(0, -1, -1)
        return best

    # the DP from behavior.window_funnel
    b = [None, None]  # best chain start for levels 1, 2 (strictly prior)
    reached = [False, False, False]
    c_prev = [None, None, None]  # c_i computed at each event, applied after
    for i, e in enumerate(seq):
        c1 = i if e == "a" else None
        c2 = b[0] if (e == "b" and b[0] is not None and i - b[0] <= window) else None
        c3 = b[1] if (e == "x" and b[1] is not None and i - b[1] <= window) else None
        if c1 is not None:
            reached[0] = True
        if c2 is not None:
            reached[1] = True
        if c3 is not None:
            reached[2] = True
        # update strict-prior maxima AFTER evaluating this event
        if c1 is not None:
            b[0] = c1 if b[0] is None else max(b[0], c1)
        if c2 is not None:
            b[1] = c2 if b[1] is None else max(b[1], c2)
    level = sum(1 for r in reached if r)
    assert level == brute()


@given(st.lists(st.sampled_from("abz"), min_size=0, max_size=40))
@settings(max_examples=300, deadline=None)
def test_sequence_count_bracket_identity(seq):
    """Greedy disjoint a→b pairing equals Σb − max(0, max prefix
    (b_t − a_t)) — the bracket-matching identity sequence_count
    compiles to window functions."""
    # greedy simulator
    open_a, pairs = 0, 0
    for e in seq:
        if e == "a":
            open_a += 1
        elif e == "b":
            if open_a > 0:
                open_a -= 1
                pairs += 1
    # closed form
    a = b = 0
    worst = 0
    for e in seq:
        a += e == "a"
        b += e == "b"
        worst = max(worst, b - a)
    assert pairs == (b - max(0, worst))


@given(
    st.lists(st.integers(min_value=0, max_value=12), min_size=1, max_size=30),
    st.integers(min_value=0, max_value=6),
)
@settings(max_examples=300, deadline=None)
def test_cusum_prefix_min_identity(counts, k):
    """The sequential CUSUM recurrence s_t = max(0, s_{t-1} + y_t)
    equals C_t − min(0, min prefix C_j) — the closed form
    cusum_alerts compiles to window functions."""
    s, seq = 0, []
    for c in counts:
        s = max(0, s + c - k)
        seq.append(s)
    cum, mn, closed = 0, 0, []
    for c in counts:
        cum += c - k
        mn = min(mn, cum)
        closed.append(cum - min(0, mn))
    assert seq == closed
