"""TEXT_MATCH boolean/phrase queries answered through the native text
index (round-7 item 3).

The reference answers TEXT_MATCH from postings
(pinot-core/.../filter/TextMatchFilterOperator.java,
NativeTextIndexReader.getDocIds — AND/OR posting algebra). Here
`read_segments_text_match` bounds each segment's docs via
text_match_allowlist and ALWAYS re-applies the exact
translate_text_match residual, so every test asserts result equality
with the pure expression path — index present, index absent, clause
un-indexable, pruning a strict superset.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from hurricanedb_spark.sources import native_text_index as nti
from hurricanedb_spark.sources import pinot_segment as ps
from hurricanedb_spark.sql.text_match import translate_text_match
from tests.segment_decodes import collect_decoding

DOCS = [
    "Spark powers the columnar engine",       # Spark + columnar
    "delta streams merge cleanly",            # merge
    "the quick brown fox jumps",              # fox, stop-word-rich
    "sparkly decorations everywhere",         # 'spark' substring only
    "merge conflicts in the stream",          # merge + stream
    "quartz scheduling for spark jobs",       # spark + quartz
    "a theme of renewal",                     # 'the' substring in theme
    "Columnar formats beat rows",             # columnar (case)
    "deep learning on spark clusters",        # spark
    "no relevant content here",
]


@pytest.fixture(scope="module")
def tm_store(tmp_path_factory):
    """Three segments with distinct doc mixes; segment 2 has NO text
    index (per-segment fallback)."""
    base = tmp_path_factory.mktemp("tm_store")
    segs = []
    for si in range(3):
        rows = [f"{d} (segment {si} copy {k})" for k in range(3) for d in DOCS]
        if si == 1:
            rows = [r for r in rows if "spark" not in r.lower()]
        pdf = pd.DataFrame(
            {"id": np.arange(len(rows), dtype=np.int64) + 1000 * si, "text": rows}
        )
        seg = str(base / f"segment_{si:02d}")
        ps.write_segment_pandas(
            pdf, seg, text_index_columns=None if si == 2 else ["text"]
        )
        segs.append(seg)
    return segs


QUERIES = [
    "spark",                          # plain term (substring semantics!)
    "spark AND columnar",             # boolean AND
    "merge OR quartz",                # boolean OR
    "spark columnar",                 # implicit OR
    "(spark OR merge) AND stream",    # parens
    '"merge conflicts"',              # phrase -> per-word intersect
    '"spark clusters"~2',             # slop phrase -> exact postings
    "quar*",                          # prefix subtree
    "qu?ck",                          # wildcard token scan
    "[delta TO fox]",                 # token range
    "spark AND NOT merge",            # NOT -> unknown branch
    "spark~1",                        # fuzzy -> fallback
    "/m[ae]rge/",                     # regex -> fallback
    "the",                            # stop-word substring guard
    "theme",                          # term containing a stop word's text
    "spark AND nosuchtoken",          # empty intersect -> all pruned
    "columnar^2 OR fox",              # boost stripped
]


@pytest.mark.parametrize("q", QUERIES)
def test_text_match_accelerated_equals_expression(spark, tm_store, q):
    fast = nti.read_segments_text_match(spark, tm_store, "text", q)
    slow = ps.read_segments(spark, tm_store).filter(
        F.expr(translate_text_match("text", q))
    )
    assert sorted(r["id"] for r in fast.collect()) == sorted(
        r["id"] for r in slow.collect()
    )


def test_segment_skip_observable(spark, tm_store):
    # 'spark' docs were removed from segment 1, so its postings prune the
    # whole segment; segment 2 (no index) always survives
    fast = nti.read_segments_text_match(spark, tm_store, "text", "spark AND columnar")
    assert collect_decoding(fast)[1] == 2
    # an AND with an impossible term prunes every indexed segment
    fast2 = nti.read_segments_text_match(
        spark, tm_store, "text", "spark AND nosuchtoken"
    )
    assert collect_decoding(fast2)[1] == 1  # only the index-less segment


def test_allowlist_superset_property(tm_store):
    """text_match_allowlist must bound (⊇) the residual's matches on the
    segment's own rows, for every query shape."""
    seg = tm_store[0]
    idx = nti.read_native_text_index(seg, "text")
    pdf = ps.read_segment_pandas(seg)

    def toks(s):
        import re as _re

        return [t for t in _re.findall(r"[a-z0-9]+", s.lower())]

    for q in QUERIES:
        allow = nti.text_match_allowlist(idx, q)
        if allow is None:
            continue
        allow = set(int(x) for x in allow)
        # conservative residual check for the subset of shapes we can
        # evaluate in python: plain-term contains
        if q == "spark":
            truth = {i for i, t in enumerate(pdf["text"]) if "spark" in t.lower()}
            assert truth <= allow


def test_unknown_and_branch_still_prunes(tm_store):
    # AND(known, unknown) keeps the known side's bound
    seg = tm_store[0]
    idx = nti.read_native_text_index(seg, "text")
    known = nti.text_match_allowlist(idx, "columnar")
    mixed = nti.text_match_allowlist(idx, "columnar AND /x[yz]/")
    assert mixed is not None and set(mixed) == set(known)
    # OR(known, unknown) must NOT prune
    assert nti.text_match_allowlist(idx, "columnar OR /x[yz]/") is None
    assert nti.text_match_allowlist(idx, "NOT columnar") is None


def test_stop_word_guards(tm_store):
    seg = tm_store[0]
    idx = nti.read_native_text_index(seg, "text")
    # 'the' hides inside stop tokens -> must not prune
    assert nti.text_match_allowlist(idx, "the") is None
    # prefix of a stop word -> must not prune
    assert nti.text_match_allowlist(idx, "th*") is None
    # 'theme' is a real token but contains 'the'... substring search for
    # 'theme' cannot hide in any stop word, so pruning IS allowed
    allow = nti.text_match_allowlist(idx, "theme")
    assert allow is not None and len(allow) > 0


def test_dialect_text_match_rewrite_fires(spark, tm_store):
    import os

    from hurricanedb_spark.sql.dialect import HurricaneSQL

    hq = HurricaneSQL(spark)
    hq.register_segment_table("tm_docs", os.path.dirname(tm_store[0]))
    q = (
        "SELECT id FROM tm_docs WHERE TEXT_MATCH(text, 'spark AND columnar') "
        "ORDER BY id LIMIT 1000"
    )
    fast = hq.sql(q)
    assert hq.last_text_match_accel
    # segment-level skip is asserted at the reader level
    # (test_segment_skip_observable); post-ORDER BY partitioning here is
    # whatever the sort leaves behind
    slow = (
        ps.read_segments(spark, tm_store)
        .filter(F.expr(translate_text_match("text", "spark AND columnar")))
        .select("id")
    )
    assert sorted(r["id"] for r in fast.collect()) == sorted(
        r["id"] for r in slow.collect()
    )


def test_dialect_text_match_unsafe_placement_falls_back(spark, tm_store):
    import os

    from hurricanedb_spark.sql.dialect import HurricaneSQL

    hq = HurricaneSQL(spark)
    hq.register_segment_table("tm_docs2", os.path.dirname(tm_store[0]))
    # OR around the call: pre-filtered source would lose rows -> no rewrite
    q = (
        "SELECT id FROM tm_docs2 WHERE TEXT_MATCH(text, 'columnar') "
        "OR id = 1001 ORDER BY id LIMIT 1000"
    )
    fast = hq.sql(q)
    assert not hq.last_text_match_accel
    slow = (
        ps.read_segments(spark, tm_store)
        .filter(
            F.expr(translate_text_match("text", "columnar")) | (F.col("id") == 1001)
        )
        .select("id")
    )
    assert sorted(r["id"] for r in fast.collect()) == sorted(
        r["id"] for r in slow.collect()
    )


def test_dialect_text_contains_rewrite(spark, tm_store):
    import os

    from hurricanedb_spark.sql.dialect import HurricaneSQL

    hq = HurricaneSQL(spark)
    hq.register_segment_table("tc_docs", os.path.dirname(tm_store[0]))
    q = (
        "SELECT id FROM tc_docs WHERE TEXT_CONTAINS(text, 'columnar') "
        "ORDER BY id LIMIT 1000"
    )
    fast = hq.sql(q)
    assert hq.last_text_contains_accel
    # the macro's semantics are raw substring containment
    slow = (
        ps.read_segments(spark, tm_store)
        .filter(F.col("text").contains("columnar"))
        .select("id")
    )
    assert sorted(r["id"] for r in fast.collect()) == sorted(
        r["id"] for r in slow.collect()
    )
    # non-bare literal (space) keeps the scan
    q2 = (
        "SELECT id FROM tc_docs WHERE TEXT_CONTAINS(text, 'merge conflicts') "
        "ORDER BY id LIMIT 1000"
    )
    fast2 = hq.sql(q2)
    assert not hq.last_text_contains_accel
    slow2 = (
        ps.read_segments(spark, tm_store)
        .filter(F.col("text").contains("merge conflicts"))
        .select("id")
    )
    assert sorted(r["id"] for r in fast2.collect()) == sorted(
        r["id"] for r in slow2.collect()
    )
