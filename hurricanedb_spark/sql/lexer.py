"""The one masker for the dialect's string scans.

`mask(sql)` returns a same-length copy of `sql` in which nothing a
keyword, paren or identifier regex should see survives. It lexes the
way Spark's SQL parser does by default, because Spark decides what the
rewritten query means:

  'string literals'     quotes kept, interior -> NUL
  "string literals"     the same (a string, not an identifier, in Spark)
  `backquoted idents`   backquotes kept, interior -> NUL (`` escapes)
  -- line comments      -> spaces (the newline stays)
  /* block comments */  -> spaces (they nest, as in Spark)

Inside a quoted literal a backslash escapes the next character, and a
doubled quote continues the literal (Spark reads two adjacent literals
there; either way the text between is data). Because the length is
kept, a span taken on the masked text slices the original string. An
unterminated literal, identifier or block comment runs to the end of
the text.
"""

from __future__ import annotations

import re

_OPAQUE = re.compile(
    r"(?P<quoted>'(?:[^'\\]|\\.|'')*(?P<s_end>')?"
    r'|"(?:[^"\\]|\\.|"")*(?P<d_end>")?'
    r"|`(?:[^`]|``)*(?P<b_end>`)?)"
    r"|--[^\n]*"
    r"|(?P<block>/\*)",
    re.DOTALL,
)
_BLOCK_EDGE = re.compile(r"/\*|\*/")


def _block_end(sql: str, pos: int) -> int:
    """End of the (possibly nested) block comment whose body starts at
    `pos`; the end of the text when it never closes."""
    depth = 1
    for m in _BLOCK_EDGE.finditer(sql, pos):
        depth += 1 if m.group(0) == "/*" else -1
        if not depth:
            return m.end()
    return len(sql)


def _opaque_spans(sql: str):
    """(match, end) of each literal, identifier and comment, in order."""
    pos = 0
    while m := _OPAQUE.search(sql, pos):
        pos = _block_end(sql, m.end()) if m.group("block") else m.end()
        yield m, pos


def mask(sql: str) -> str:
    """Same-length copy of `sql` with literals, backquoted identifiers
    and comments masked (see the module docstring)."""
    out, pos = [], 0
    for m, end in _opaque_spans(sql):
        out.append(sql[pos : m.start()])
        n = end - m.start()
        if m.group("quoted") is None:
            out.append(" " * n)
        else:
            closed = m.group("s_end") or m.group("d_end") or m.group("b_end")
            out.append(sql[m.start()] + "\x00" * (n - 1 - bool(closed)))
            out.append(sql[end - 1] if closed else "")
        pos = end
    return "".join(out) + sql[pos:]


def literal_spans(sql: str) -> list[tuple[int, int]]:
    """(start, end) of each single-quoted literal, quotes included."""
    return [(m.start(), end) for m, end in _opaque_spans(sql) if sql[m.start()] == "'"]
