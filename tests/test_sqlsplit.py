"""The SQL scanner (plans/sqlsplit.py): statement-splitter edge cases, a
hypothesis round-trip property, and properties of the code positions, the
top-level comma split and the paren matcher over generated mixes of code,
literals, quoted identifiers and comments."""

from __future__ import annotations

import re

from hypothesis import given, settings
from hypothesis import strategies as st

from bfs_etl_sep2025_spark.plans.sqlsplit import (
    keyword_positions,
    match_close,
    split_statements,
    split_top_level,
    unquoted_positions,
)


def test_simple_split():
    assert split_statements("a; b; c") == ["a", "b", "c"]


def test_reference_multi_statement_shape():
    """The reference builds 'insert...; insert...; ...' by join
    (dags/dev_db_test.py:26)."""
    sql = "; ".join(
        f"INSERT INTO dev_test (name, id) VALUES ('name', {i})" for i in range(3)
    )
    out = split_statements(sql)
    assert len(out) == 3
    assert out[2].endswith("VALUES ('name', 2)")


def test_semicolon_in_string_literal():
    out = split_statements("INSERT INTO t VALUES ('a;b'); SELECT 1")
    assert out == ["INSERT INTO t VALUES ('a;b')", "SELECT 1"]


def test_semicolon_in_double_quotes_and_backticks():
    assert split_statements('SELECT ";" AS x; SELECT 2') == ['SELECT ";" AS x', "SELECT 2"]
    assert split_statements("SELECT `a;b`; SELECT 2") == ["SELECT `a;b`", "SELECT 2"]


def test_escaped_quote_inside_literal():
    out = split_statements(r"SELECT 'it\'s; fine'; SELECT 2")
    assert out == [r"SELECT 'it\'s; fine'", "SELECT 2"]


def test_doubled_quote_escape():
    out = split_statements("SELECT 'it''s; fine'; SELECT 2")
    assert out == ["SELECT 'it''s; fine'", "SELECT 2"]


def test_line_comment():
    out = split_statements("SELECT 1 -- trailing; not a split\n; SELECT 2")
    assert len(out) == 2
    assert out[1] == "SELECT 2"


def test_block_comment():
    out = split_statements("SELECT 1 /* ; */; SELECT 2")
    assert out == ["SELECT 1 /* ; */", "SELECT 2"]


def test_trailing_semicolon_and_blanks():
    assert split_statements("SELECT 1; ;\n  ;") == ["SELECT 1"]


@given(
    st.lists(
        st.text(
            alphabet=st.characters(
                blacklist_characters=";'\"`-/\\", blacklist_categories=("Cs",)
            ),
            min_size=1,
        ).map(str.strip).filter(bool),
        min_size=1,
        max_size=6,
    )
)
@settings(max_examples=200, deadline=None)
def test_roundtrip_property(stmts):
    """Joining quote-free statements with ';' then splitting recovers them."""
    assert split_statements("; ".join(stmts)) == stmts


def test_keyword_positions_top_level_word_start():
    """Only a WHERE at top level, outside literals and comments, that
    starts a word (not ``a_where``) is a keyword position."""
    sql = "SET a_where = '(WHERE' /* WHERE */, (SELECT 1 WHERE x) WHERE y"
    got = list(keyword_positions(re.compile(r"(?i)WHERE\b"), sql))
    assert got == [sql.rindex("WHERE")]


# -- generated mixes: every token but code is opaque to the scanner ---------

_TEXT = st.characters(blacklist_categories=("Cs",))


def _quoted(q: str):
    """A ``q``-quoted token: plain characters, backslash escapes (not inside
    backquotes) and, for single quotes, the doubled ``''`` escape."""
    esc = q != "`"
    pieces = [_TEXT.filter(lambda c: c != q and not (esc and c == "\\"))]
    if esc:
        pieces.append(_TEXT.map("\\".__add__))
    else:  # a backslash escapes nothing inside backquotes
        pieces.append(st.just("\\"))
    if q == "'":
        pieces.append(st.just("''"))
    return st.lists(st.one_of(pieces), max_size=6).map(
        lambda xs: q + "".join(xs) + q
    )


#: literals, quoted identifiers and both comment kinds, each holding any
#: mix of ; , ( ) and quote characters
_OPAQUE = st.one_of(
    _quoted("'"),
    _quoted('"'),
    _quoted("`"),
    st.text(_TEXT.filter(lambda c: c != "\n")).map(lambda b: f"--{b}\n"),
    st.text(_TEXT.filter(lambda c: c != "*")).map(lambda b: f"/*{b}*/"),
)
_CODE = st.text(alphabet="ab1 ;,()*.=\n", min_size=1)


@given(
    st.lists(
        st.one_of(
            _CODE.map(lambda t: (True, t)), _OPAQUE.map(lambda t: (False, t))
        ),
        max_size=8,
    )
)
@settings(max_examples=300, deadline=None)
def test_code_positions_are_exactly_the_code_tokens(tokens):
    """The scan reports as code every character of a code token and none
    of a literal, quoted identifier or comment, delimiters included."""
    sql, code = "", set()
    for is_code, tok in tokens:
        if is_code:
            code.update(range(len(sql), len(sql) + len(tok)))
        sql += tok
    assert unquoted_positions(sql) == code


_WORD = st.text(alphabet="abc123", min_size=1)
_ATOM = st.lists(st.one_of(_WORD, _OPAQUE), min_size=1, max_size=3).map(
    "".join
)
#: an atom, or ``[word](item, ...)`` nested to any depth
_ITEM = st.recursive(
    _ATOM,
    lambda inner: st.tuples(
        st.one_of(st.just(""), _WORD), st.lists(inner, min_size=1, max_size=3)
    ),
    max_leaves=12,
)


def _render(items) -> tuple[str, list[tuple[int, int]]]:
    """``items`` joined by ", ", with the (index of each generated '(',
    index past its ')') pair."""
    text, pairs = "", []
    for k, item in enumerate(items):
        text += ", " if k else ""
        if isinstance(item, str):
            text += item
            continue
        prefix, kids = item
        text += prefix
        inner, inner_pairs = _render(kids)
        pairs.append((len(text), len(text) + len(inner) + 2))
        text += "("
        pairs += [(a + len(text), b + len(text)) for a, b in inner_pairs]
        text += f"{inner})"
    return text, pairs


@given(st.lists(_ITEM, min_size=1, max_size=4))
@settings(max_examples=300, deadline=None)
def test_top_level_split_and_paren_match_follow_generated_nesting(items):
    """The top-level comma split returns the generated top-level items,
    and each generated '(' matches its generated ')', whatever ; , ( )
    the literals and comments between them hold."""
    sql, pairs = _render(items)
    assert split_top_level(sql) == [_render([i])[0].strip() for i in items]
    for open_at, close in pairs:
        assert match_close(sql, open_at) == close
