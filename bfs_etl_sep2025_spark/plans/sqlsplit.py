"""The dialect layer's one SQL scanner.

The reference hands multi-statement strings to a single operator call and
relies on the client to split on ``;`` (``dags/dev_db_test.py:26,62-65``
builds ``"stmt1; stmt2; ..."``). Spark's ``spark.sql`` executes exactly one
statement, so the engine splits statements itself, and every dialect
rewrite in ``plans/`` must tell syntax from data: a ``;``, keyword, paren
or comma inside a single/double-quoted literal, a backquoted identifier, a
``--`` line comment or a ``/* */`` block comment is not SQL.

:func:`_scan` is the one state machine that knows those rules: backslash
escapes inside ``'…'`` and ``"…"``, while a doubled ``''`` needs no rule
of its own (closing and reopening the literal leaves the same characters
outside the code). It yields each *code position* — a character outside
every literal, quoted identifier and comment — with its paren depth, and
every helper below derives from it: statement splitting, the unquoted
position set, quote-aware substitution, top-level keyword search,
top-level comma splitting and bracket matching. :func:`ident_key` is the
one spelling of an identifier's lookup key.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

_WORD_CHAR = re.compile(r"\w")


def _scan(sql: str, start: int = 0) -> Iterator[tuple[int, int]]:
    """Yield ``(index, paren depth)`` for each code position of ``sql`` from
    ``start``, which must be 0 or a code position. A paren counts as inside
    its own pair, so depth 0 is the top level."""
    i, n, depth = start, len(sql), 0
    state: str | None = None  # None | "'" | '"' | '`' | '--' | '/*'
    while i < n:
        ch = sql[i]
        if state is None:
            two = sql[i : i + 2]
            if ch in ("'", '"', "`"):
                state = ch
            elif two in ("--", "/*"):
                state = two
                i += 1
            elif ch == "(":
                depth += 1
                yield i, depth
            elif ch == ")":
                yield i, depth
                depth -= 1
            else:
                yield i, depth
        elif state in ("'", '"', "`"):
            if ch == "\\" and state != "`":
                i += 1  # escaped char inside a string literal
            elif ch == state:
                state = None
        elif state == "--":
            if ch == "\n":
                state = None
        elif sql[i : i + 2] == "*/":
            state = None
            i += 1
        i += 1


def _split_at(text: str, cuts: list[int]) -> list[str]:
    parts, last = [], 0
    for i in cuts:
        parts.append(text[last:i])
        last = i + 1
    parts.append(text[last:])
    return [p.strip() for p in parts if p.strip()]


def ident_key(name: str) -> str:
    """The lookup key of an identifier as SQL spells it: every identifier
    quote dropped, lowercased (``mdb.`Users``` -> ``mdb.users``)."""
    return re.sub(r'[`"]', "", name).lower()


def split_statements(sql: str) -> list[str]:
    """The non-blank statements of ``sql``, split at code ``;``s."""
    return _split_at(sql, [i for i, _ in _scan(sql) if sql[i] == ";"])


def split_top_level(text: str) -> list[str]:
    """The non-blank parts of ``text`` between its top-level code commas."""
    cuts = [i for i, d in _scan(text) if not d and text[i] == ","]
    return _split_at(text, cuts)


def unquoted_positions(sql: str) -> set[int]:
    """The code positions of ``sql``, at any paren depth."""
    return {i for i, _ in _scan(sql)}


def blank_quoted(sql: str) -> str:
    """``sql`` with every character that is not a code position (literals,
    quoted identifiers, comments and their delimiters) turned into a space,
    so plain regexes see only syntax."""
    out = [" "] * len(sql)
    for i, _ in _scan(sql):
        out[i] = sql[i]
    return "".join(out)


def finditer_unquoted(pattern: re.Pattern, text: str) -> Iterator[re.Match]:
    """``pattern.finditer(text)``, keeping the matches that start at a code
    position (the scan runs only once a first match shows up)."""
    code = None
    for m in pattern.finditer(text):
        code = unquoted_positions(text) if code is None else code
        if m.start() in code:
            yield m


def sub_unquoted(pattern: re.Pattern, repl, text: str) -> str:
    """``pattern.sub(repl, text)`` applied only to matches that START
    outside string literals and comments, so a dialect keyword quoted as
    data (``SELECT 'IFF(x)' AS note``) is never rewritten (ADVICE r3)."""
    out, last = [], 0
    for m in finditer_unquoted(pattern, text):
        out.append(text[last : m.start()])
        out.append(repl(m) if callable(repl) else m.expand(repl))
        last = m.end()
    return "".join(out) + text[last:]


def keyword_positions(
    pattern: re.Pattern, text: str, start: int = 0
) -> Iterator[int]:
    """Indices from ``start`` on where ``pattern`` (a keyword regex with a
    trailing ``\\b`` and no ``^``) matches at top level, starting a word."""
    for i, depth in _scan(text):
        if (
            not depth
            and i >= start
            and not (i and _WORD_CHAR.match(text[i - 1]))
            and pattern.match(text, i)
        ):
            yield i


def match_close(text: str, open_at: int, pair: str = "()") -> int | None:
    """The index just past the code ``pair[1]`` that closes the ``pair[0]``
    at code position ``open_at``, counting only code brackets of the pair;
    None when it never closes."""
    level = 0
    for i, _ in _scan(text, open_at):
        if text[i] == pair[0]:
            level += 1
        elif text[i] == pair[1]:
            level -= 1
            if not level:
                return i + 1
    return None
