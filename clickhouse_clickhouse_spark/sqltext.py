"""Lexical layer of the dialect translator.

One token rule decides what a text rewrite may look into. These tokens
are opaque:

* ``'...'`` string literals, with both ``\\x`` and ``''`` escapes;
* ``"..."`` quoted names or literals, with ``\\x`` and ``""`` escapes;
* ```...``` quoted identifiers, with doubled-backtick escapes;
* ``-- ...`` up to the end of the line, and ``/* ... */`` comments.

:func:`mask` returns a same-length copy of the text in which the inside
of every quoted token is NUL and every comment is blank, so a regex run
on the mask matches code only and its spans index the original text.
Bracket depth (``()`` and ``[]``), top-level splitting, identifier
substitution and the span-match helpers are all built on that mask;
nothing else in the translator scans quotes or depth itself.
"""

from __future__ import annotations

import re
from functools import lru_cache

_OPAQUE = re.compile(r"""
      '(?:[^'\\]++|\\[\s\S]?|'')*+(?:'|\Z)
    | "(?:[^"\\]++|\\[\s\S]?|"")*+(?:"|\Z)
    | `(?:[^`]++|``)*+(?:`|\Z)
    | --[^\n]*
    | /\*[\s\S]*?(?:\*/|\Z)
""", re.VERBOSE)
_BRACKET = re.compile(r"[()\[\]]")
_SUBQUERY_HEAD = re.compile(r"\s*(?:SELECT|WITH)\b", re.IGNORECASE)
_SEPARATORS = {",": re.compile(","),
               "AND": re.compile(r"\bAND\b", re.IGNORECASE)}


def _blank(m: re.Match) -> str:
    t = m.group(0)
    if t[0] in "-/":                     # comment: whitespace to a parser
        return " " * len(t)
    if len(t) > 1 and t[-1] == t[0]:     # keep both delimiters
        return t[0] + "\x00" * (len(t) - 2) + t[-1]
    return t[0] + "\x00" * (len(t) - 1)  # unterminated: runs to the end


@lru_cache(maxsize=64)
def mask(s: str) -> str:
    """Same-length copy of ``s`` with quoted-token contents NUL and
    comments blank; delimiters of quoted tokens stay in place."""
    return _OPAQUE.sub(_blank, s)


def strip_comments(s: str) -> str:
    """``s`` with every comment replaced by one space (a ``--`` comment
    keeps its line break)."""
    return _OPAQUE.sub(
        lambda m: " " if m.group(0)[0] in "-/" else m.group(0), s)


@lru_cache(maxsize=64)
def _brackets(s: str) -> tuple[dict[int, int], list[tuple[int, int]]]:
    """Matched bracket pairs of ``s`` outside opaque tokens: a map from
    each bracket to its partner, and the (open, close) pairs in order
    of the opener. ``(`` and ``[`` nest together; an unmatched bracket
    has no entry."""
    partner: dict[int, int] = {}
    stack: list[int] = []
    for m in _BRACKET.finditer(mask(s)):
        i = m.start()
        if m.group(0) in "([":
            stack.append(i)
        elif stack:
            o = stack.pop()
            partner[o], partner[i] = i, o
    return partner, sorted((o, c) for o, c in partner.items() if o < c)


def match_bracket(s: str, i: int) -> int:
    """Index of the bracket matching the one at ``s[i]`` (either
    direction); -1 when it is unmatched or not a bracket."""
    return _brackets(s)[0].get(i, -1)


def enclosing_open(s: str, pos: int) -> int:
    """Index of the innermost open bracket whose span holds ``pos``
    (closed later or not at all); -1 when ``pos`` is at depth 0."""
    stack: list[int] = []
    for m in _BRACKET.finditer(mask(s), 0, pos):
        if m.group(0) in "([":
            stack.append(m.start())
        elif stack:
            stack.pop()
    return stack[-1] if stack else -1


@lru_cache(maxsize=64)
def depth0(s: str) -> str:
    """The mask with every bracketed span (brackets included) NUL, so a
    regex on it sees top-level code only. An unclosed opener blanks
    the rest of the text."""
    m = mask(s)
    out, last, depth = [], 0, 0
    for b in _BRACKET.finditer(m):
        if b.group(0) in "([":
            if depth == 0:
                out.append(m[last:b.start()])
                last = b.start()
            depth += 1
        elif depth:
            depth -= 1
            if depth == 0:
                out.append("\x00" * (b.end() - last))
                last = b.end()
    out.append("\x00" * (len(m) - last) if depth else m[last:])
    return "".join(out)


def _outer_spans(s: str, enter) -> list[tuple[int, int]]:
    """(open, close) of the outermost bracket pairs for which
    ``enter(s, open, close)`` holds; pairs inside a chosen one are not
    reported."""
    found: list[tuple[int, int]] = []
    end = -1
    for o, c in _brackets(s)[1]:
        if o > end and enter(s, o, c):
            found.append((o, c))
            end = c
    return found


def _is_subquery(s: str, o: int, c: int) -> bool:
    """Whether the pair at ``s[o]``..``s[c]`` is a parenthesized
    SELECT/WITH."""
    return s[o] == "(" and _SUBQUERY_HEAD.match(s, o + 1, c) is not None


def subquery_spans(s: str) -> list[tuple[int, int]]:
    """(open, close) of every parenthesized subquery not nested in
    another one."""
    return _outer_spans(s, _is_subquery)


def blank_spans(view: str, spans: list[tuple[int, int]]) -> str:
    """``view`` with the inside of each (open, close) span NUL."""
    for o, c in spans:
        view = view[:o + 1] + "\x00" * (c - o - 1) + view[c:]
    return view


def rewrite_inside_out(q: str, rewrite, hint: re.Pattern | None = None
                       ) -> str:
    """``rewrite(q)`` after rewriting, innermost first and each on its
    own text, every bracketed span whose code holds a ``hint`` match —
    or, with no hint, every parenthesized subquery. ``rewrite`` then
    only has to handle its construct at depth 0."""
    if hint is None:
        spans = subquery_spans(q)
    else:
        masked = mask(q)
        if not hint.search(masked):
            return rewrite(q)
        spans = _outer_spans(
            q, lambda s, o, c: hint.search(masked, o + 1, c) is not None)
    out, last = [], 0
    for o, c in spans:
        out.append(q[last:o + 1])
        out.append(rewrite_inside_out(q[o + 1:c], rewrite, hint))
        last = c
    out.append(q[last:])
    return rewrite("".join(out))


def split_top(s: str, sep: str = ",") -> list[str]:
    """Stripped pieces of ``s`` between depth-0 separators (``","`` or
    ``"AND"``); [] for blank text. A trailing separator yields a final
    empty piece."""
    if not s.strip():
        return []
    pieces, last = [], 0
    for m in _SEPARATORS[sep].finditer(depth0(s)):
        pieces.append(s[last:m.start()].strip())
        last = m.end()
    pieces.append(s[last:].strip())
    return pieces


def subst_ident(s: str, name: str, repl: str, nocase: bool = False,
                outside_subqueries: bool = False) -> str:
    """Replace the whole word ``name`` in code with ``repl`` (spliced
    verbatim). ``outside_subqueries`` leaves parenthesized subqueries
    alone, for a name that shadows outer references only."""
    pat = re.compile(rf"\b{re.escape(name)}\b",
                     re.IGNORECASE if nocase else 0)
    view = mask(s)
    if outside_subqueries:
        view = blank_spans(view, subquery_spans(s))
    out, last = [], 0
    for m in pat.finditer(view):
        out.append(s[last:m.start()])
        out.append(repl)
        last = m.end()
    out.append(s[last:])
    return "".join(out)


class SpanMatch:
    """Match facade: spans from a match on a masked view, group TEXT
    from the original string."""

    def __init__(self, m: re.Match, orig: str):
        self._m, self._o = m, orig

    def group(self, i: int = 0):
        s, e = self._m.span(i)
        return None if s == -1 else self._o[s:e]

    def start(self, i: int = 0) -> int:
        return self._m.start(i)

    def end(self, i: int = 0) -> int:
        return self._m.end(i)


def masked_search(regex: re.Pattern, q: str) -> SpanMatch | None:
    """First match of ``regex`` in the code of ``q``."""
    m = regex.search(mask(q))
    return SpanMatch(m, q) if m else None


def search_top(regex: re.Pattern, q: str, pos: int = 0
               ) -> SpanMatch | None:
    """First match of ``regex`` at or after ``pos`` in the depth-0 code
    of ``q``."""
    m = regex.search(depth0(q), pos)
    return SpanMatch(m, q) if m else None


def masked_sub(regex: re.Pattern, repl, q: str) -> str:
    """``re.sub`` on the code of ``q``; ``repl`` is called with each
    SpanMatch and its result is spliced verbatim."""
    out, last = [], 0
    for m in regex.finditer(mask(q)):
        out.append(q[last:m.start()])
        out.append(repl(SpanMatch(m, q)))
        last = m.end()
    out.append(q[last:])
    return "".join(out)
