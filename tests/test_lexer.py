"""The dialect's one masker (sql/lexer.py): literals, backquoted
identifiers and comments are masked in a same-length copy, so spans
taken on the masked text slice the original."""

from __future__ import annotations

import pytest

from hurricanedb_spark.sql.lexer import literal_spans, mask

N = "\x00"


@pytest.mark.parametrize(
    "sql,want",
    [
        ("a = 'x OR y'", f"a = '{N * 6}'"),
        ("a = 'it''s' OR b", f"a = '{N * 5}' OR b"),
        ("a = ''", "a = ''"),
        ("`from` + 1", f"`{N * 4}` + 1"),
        ("a -- OR b\nAND c", "a" + " " * 8 + "\nAND c"),
        ("a /* OR (b) */ AND c", "a" + " " * 14 + "AND c"),
        ("a = 'open", f"a = '{N * 4}"),
        ("a /* open", "a" + " " * 8),
        ("x = '--' AND y", f"x = '{N * 2}' AND y"),
        ("-- it's\nx = 'a'", " " * 7 + f"\nx = '{N}'"),
        ("a = 'it\\'s' OR b", f"a = '{N * 5}' OR b"),
        ("a = 'C:\\\\' OR b", f"a = '{N * 4}' OR b"),
        ('a = "x--y" OR b', f'a = "{N * 4}" OR b'),
        ('a = "it\'s" OR b', f'a = "{N * 4}" OR b'),
        ("a /* x /* y */ OR */ AND c", "a" + " " * 20 + "AND c"),
        ("`a``b` OR c", f"`{N * 4}` OR c"),
    ],
)
def test_mask(sql, want):
    got = mask(sql)
    assert got == want
    assert len(got) == len(sql)


def test_literal_spans_slice_the_original():
    sql = "f('a''b', `c'd`, 'e') -- 'f'"
    assert [sql[s:e] for s, e in literal_spans(sql)] == ["'a''b'", "'e'"]
