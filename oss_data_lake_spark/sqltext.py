"""The SQL lexical toolkit: where literals, comments and parens are in
SQL text, for every structural scan over statement text.

Masking contract: ``_masked(text)`` has the same length as ``text``;
every character of a string literal (single- or double-quoted) or a
comment is blanked to a space, except newlines, which are kept. Offsets
found in the masked copy therefore index the original text, and a
keyword, paren, comma or name inside a literal or comment is never seen
by a scan over the masked copy.

Masking composes: a cut at a position outside every literal and comment
(a paren, a comma, the first letter of a keyword) splits the text into
pieces whose own masks, concatenated, equal the mask of the whole. A
rewrite that splices text between two such positions can therefore
splice the masked copy alongside instead of masking the whole
statement again.
"""

from __future__ import annotations

import re

_LITERAL_RE = re.compile(
    # single-quoted strings ('' and \' escapes), double-quoted strings
    # (Spark's default non-ANSI mode reads them as literals; in ANSI mode
    # they are identifiers — not rewriting inside either is sound),
    # line comments, block comments
    r"'(?:[^'\\]|\\.|'')*'"
    r'|"(?:[^"\\]|\\.)*"'
    r"|--[^\n]*"
    r"|/\*.*?\*/",
    re.DOTALL,
)
_PAREN_RE = re.compile(r"[()]")


def _literal_spans(text: str) -> list[tuple[int, int]]:
    """Spans of SQL string literals and comments. AS-OF-shaped text INSIDE
    one is data — a rewrite that fired there would silently change
    predicate values (or trip over commented-out SQL). The guard is on
    match START position, not segment splitting, because the timestamp
    form's own ``'<iso>'`` argument is itself a literal the clause regex
    must be allowed to consume."""
    return [m.span() for m in _LITERAL_RE.finditer(text)]


def _sub_outside_literals(pattern: "re.Pattern[str]", repl, text: str) -> str:
    spans = _literal_spans(text)

    def guarded(m: "re.Match[str]") -> str:
        if any(a < m.start() < b for a, b in spans):
            return m.group(0)
        return repl(m)

    return pattern.sub(guarded, text)


def _masked(text: str) -> str:
    """``text`` with string literals and comments blanked (same length):
    structural scans — keywords, parens, name references — must not see
    inside literals. Predicate VALUES are read from the original text at
    the same offsets."""
    out = list(text)
    for a, b in _literal_spans(text):
        for i in range(a, b):
            if out[i] not in "\n":
                out[i] = " "
    return "".join(out)


def _depths(masked: str) -> list[int]:
    """Paren depth BEFORE each character position."""
    depths = []
    d = 0
    for ch in masked:
        depths.append(d)
        if ch == "(":
            d += 1
        elif ch == ")":
            d = max(0, d - 1)
    depths.append(d)
    return depths


def close_paren(masked: str, i: int) -> int | None:
    """The index just past the ``)`` matching the ``(`` just before
    ``masked[i]``; None when the parens never balance."""
    depth = 1
    for m in _PAREN_RE.finditer(masked, i):
        depth += 1 if m.group() == "(" else -1
        if depth == 0:
            return m.end()
    return None


def split_top(text: str, sep: str = ",") -> list[str]:
    """``text`` cut at each one-character ``sep`` at paren depth 0 and
    outside literals and comments. The pieces are not stripped: joined
    with ``sep`` they give back ``text``."""
    masked = _masked(text)
    depths = _depths(masked)
    out, start = [], 0
    for i, ch in enumerate(masked):
        if ch == sep and depths[i] == 0:
            out.append(text[start:i])
            start = i + 1
    out.append(text[start:])
    return out
