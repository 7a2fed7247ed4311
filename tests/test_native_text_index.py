"""Native text index: FSA5 FST + posting-list container
(`.nativetext.idx`), plus TEXT_CONTAINS acceleration over segment
stores.

Byte-level goldens follow the reference reader's contract
(FSTHeader.java, ImmutableFST.java, NativeTextIndexCreator.java,
NativeTextIndexReader.java) — magic/version bytes, hgtl nibbles,
little-endian goto fields with flags in the low 3 bits, the Java
Map.toString outputs section, and the 24-byte container header.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from hurricanedb_spark.sources import native_text_index as nti
from hurricanedb_spark.sources import pinot_segment as ps
from tests.segment_decodes import collect_decoding


def test_analyzer_matches_reference_stop_set():
    assert nti.analyze("The quick brown fox AND the dog") == [
        "quick",
        "brown",
        "fox",
        "dog",
    ]
    # all 35 reference stop words drop; 'than' and 'those' included
    assert nti.analyze("than those their then there") == []
    assert nti.analyze(None) == []
    assert nti.analyze("C3PO-R2D2 runs 2x faster!") == [
        "c3po",
        "r2d2",
        "runs",
        "2x",
        "faster",
    ]


def test_fst_header_golden():
    buf = nti.serialize_fst([("ab", 0)])
    # '\fsa' magic, version 5, filler '_', annotation '+', hgtl: ndl=0 gtl=4
    assert buf[:4] == b"\\fsa"
    assert buf[4] == 5 and buf[5] == ord("_") and buf[6] == ord("+")
    assert buf[7] == 0x04
    (out_len,) = struct.unpack_from(">i", buf, 8)
    out_map = buf[12 : 12 + out_len].decode()
    assert out_map.startswith("{") and out_map.endswith("}") and "=" in out_map


def test_fst_arc_layout_golden():
    # single term 'a' -> dummy arc, epsilon arc, root node with one arc
    buf = nti.serialize_fst([("a", 7)])
    fst = nti.ImmutableFst(buf)
    arcs = fst.arcs
    arc_size = 1 + fst.goto_length
    # dummy arc at 0: label 0, LAST, goto 0
    assert arcs[0] == 0
    assert int.from_bytes(arcs[1:5], "little") == nti.BIT_LAST_ARC
    # epsilon arc: points at the root node (offset 2*arc_size)
    eps = arc_size
    assert int.from_bytes(arcs[eps + 1 : eps + 5], "little") == (
        (2 * arc_size) << 3
    ) | nti.BIT_LAST_ARC
    # root arc: label 'a', FINAL|LAST, terminal goto 0
    root = 2 * arc_size
    assert arcs[root] == ord("a")
    assert (
        int.from_bytes(arcs[root + 1 : root + 5], "little")
        == nti.BIT_FINAL_ARC | nti.BIT_LAST_ARC
    )
    assert fst.outputs == {root: 7}


@pytest.mark.parametrize(
    "terms",
    [
        ["a"],
        ["a", "ab", "abc"],  # prefixes of each other
        ["alpha", "beta", "gamma", "delta"],
        [f"tok{i:03d}" for i in range(200)],
        ["0", "00", "000", "z" * 40],
    ],
)
def test_fst_round_trip_lookup_and_enumeration(terms):
    terms = sorted(set(terms))
    pairs = [(t, i) for i, t in enumerate(terms)]
    fst = nti.ImmutableFst(nti.serialize_fst(pairs))
    for t, i in pairs:
        assert fst.lookup(t) == i, t
    assert fst.lookup("nope") is None
    assert fst.lookup("") is None
    # prefixes that are not terms don't match
    if "alpha" in terms:
        assert fst.lookup("alph") is None
    assert sorted(fst.terms()) == pairs


def test_container_layout_and_query():
    docs = [
        "spark scans fast",
        "the slow merge",
        None,
        "fast spark merge",
    ]
    buf = nti.encode_native_text_index(docs)
    magic, version, fst_len, inv_len, n_bitmaps = struct.unpack_from(">iiiqi", buf, 0)
    assert magic == nti.FST_MAGIC and version == 1
    assert nti.HEADER_LENGTH + fst_len + inv_len == len(buf)
    idx = nti.NativeTextIndex(buf)
    # 'the' is a stop word -> never indexed; vocabulary is sorted
    assert idx.n_tokens == 5
    assert sorted(t for t, _ in idx.fst.terms()) == [
        "fast",
        "merge",
        "scans",
        "slow",
        "spark",
    ]
    assert list(idx.doc_ids_for_term("spark")) == [0, 3]
    assert list(idx.doc_ids_for_term("merge")) == [1, 3]
    assert list(idx.doc_ids_for_term("the")) == []  # stop word never posted
    assert list(idx.doc_ids_matching(lambda t: t.startswith("s"))) == [0, 1, 3]


def test_segment_writer_and_reader_integration(tmp_path):
    pdf = pd.DataFrame(
        {
            "id": np.arange(5, dtype=np.int64),
            "text": [
                "spark shuffles data",
                "columnar scans win",
                "the quick fox",
                "spark joins tables",
                "fox and fox again",
            ],
        }
    )
    for layout in ("v3", "v1"):
        seg = str(tmp_path / f"seg_{layout}")
        ps.write_segment_pandas(
            pdf, seg, text_index_columns=["text"], layout=layout
        )
        meta = ps.read_segment_metadata(seg)
        assert ("text", "text_index") in meta.index_map
        idx = nti.read_native_text_index(seg, "text")
        assert list(idx.doc_ids_for_term("spark")) == [0, 3]
        assert list(idx.doc_ids_for_term("fox")) == [2, 4]


def test_mv_text_index_rejected(tmp_path):
    # NativeTextIndexCreator.add(String[], int) throws for MV columns
    pdf = pd.DataFrame({"mv": [["a", "b"], ["c"]]})
    with pytest.raises(Exception):
        ps.write_segment_pandas(
            pdf, str(tmp_path / "mv"), text_index_columns=["mv"]
        )


@pytest.fixture(scope="module")
def text_store(tmp_path_factory):
    """Three segments; segment 2 carries no text index (fallback)."""
    base = tmp_path_factory.mktemp("text_store")
    words = [
        ["spark", "columnar", "merge"],
        ["merge", "delta", "stream"],
        ["spark", "zebra", "quartz"],
    ]
    segs = []
    for si, vocab in enumerate(words):
        rows = [
            f"doc {i} mentions {vocab[i % len(vocab)]} and "
            f"{vocab[(i + 1) % len(vocab)]} tools"
            for i in range(90)
        ]
        pdf = pd.DataFrame(
            {"id": np.arange(90, dtype=np.int64) + 1000 * si, "text": rows}
        )
        seg = str(base / f"segment_{si:02d}")
        ps.write_segment_pandas(
            pdf, seg, text_index_columns=None if si == 2 else ["text"]
        )
        segs.append(seg)
    return segs


@pytest.mark.parametrize(
    "pattern",
    [
        "spark",          # term; prunes segment 1
        "zebra",          # only in the index-less segment
        "quar.*",         # safe prefix
        "m[ae]rge",       # full regex -> fallback scan
        "nosuchtoken",    # empty
        "the",            # stop word: residual analyzer drops it -> empty
    ],
)
def test_text_contains_accelerated_equals_expression(spark, text_store, pattern):
    fast = nti.read_segments_text_contains(spark, text_store, "text", pattern)
    slow = ps.read_segments(spark, text_store).filter(
        F.expr(nti.analyzed_contains_expr("text", pattern))
    )
    assert sorted(r["id"] for r in fast.collect()) == sorted(
        r["id"] for r in slow.collect()
    )


def test_text_contains_segment_pruning_observable(spark, text_store):
    fast = nti.read_segments_text_contains(spark, text_store, "text", "delta")
    # 'delta' exists only in segment 1; segment 2 (no index) always survives
    assert collect_decoding(fast)[1] == 2


# --- FST index (regexp acceleration over dictionary values) ---------------


def test_fst_index_write_and_regexp_filter(tmp_path):
    """NativeFSTIndexCreator analog: FST over sorted dictionary values
    with dictId outputs, used by the regexp_like where-pushdown.
    Index answers must equal the scan path for every pattern (both
    sides evaluate Python re.search — unanchored, like the reference's
    Matcher.find)."""
    rng = np.random.default_rng(11)
    cats = np.array(["alpha", "beta", "gamma", "alphabet", "betamax", "zeta"])
    pdf = pd.DataFrame(
        {
            "id": np.arange(3000, dtype=np.int64),
            "cat": cats[rng.integers(0, len(cats), 3000)],
        }
    )
    seg_i = str(tmp_path / "with_idx")
    seg_n = str(tmp_path / "no_idx")
    ps.write_segment_pandas(
        pdf, seg_i, fst_index_columns=["cat"], inverted_index_columns=["cat"]
    )
    ps.write_segment_pandas(pdf, seg_n)
    meta = ps.read_segment_metadata(seg_i)
    assert ("cat", "fst_index") in meta.index_map
    for pattern in ("^alpha$", "beta", "a.*x", "q", "^(ga|ze)"):
        got_i = ps.read_segment_pandas(
            seg_i, columns=["id"], where=("cat", "regexp_like", pattern)
        )
        got_n = ps.read_segment_pandas(
            seg_n, columns=["id"], where=("cat", "regexp_like", pattern)
        )
        import re as _re

        rx = _re.compile(pattern)
        want = pdf.loc[[rx.search(c) is not None for c in pdf["cat"]], ["id"]]
        assert got_i["id"].tolist() == want["id"].tolist(), pattern
        assert got_n["id"].tolist() == want["id"].tolist(), pattern


def test_fst_index_exact_hit_skips_value_decode(tmp_path):
    # with FST + inverted index and no null vector, the answer is exact:
    # segment_filter_docs returns (docs, True)
    pdf = pd.DataFrame({"cat": ["aa", "ab", "ba", "aa"]})
    seg = str(tmp_path / "exact")
    ps.write_segment_pandas(
        pdf, seg, fst_index_columns=["cat"], inverted_index_columns=["cat"]
    )
    meta = ps.read_segment_metadata(seg)
    psf = ps._read_psf(meta)
    docs, exact = ps.segment_filter_docs(meta, psf, ("cat", "regexp_like", "^a"))
    assert exact and list(docs) == [0, 1, 3]
    # without inverted index: forward-membership path, still exact
    seg2 = str(tmp_path / "fwd")
    ps.write_segment_pandas(pdf, seg2, fst_index_columns=["cat"])
    meta2 = ps.read_segment_metadata(seg2)
    docs2, exact2 = ps.segment_filter_docs(
        meta2, ps._read_psf(meta2), ("cat", "regexp_like", "^a")
    )
    assert exact2 and list(docs2) == [0, 1, 3]


def test_fst_index_null_vector_forces_residual(tmp_path):
    # STRING nulls become the FieldSpec default 'null'; a pattern matching
    # it must stay inexact so the residual drops the null docs
    pdf = pd.DataFrame({"cat": ["null-ish", None, "other"]})
    seg = str(tmp_path / "nulls")
    ps.write_segment_pandas(
        pdf, seg, fst_index_columns=["cat"], inverted_index_columns=["cat"]
    )
    meta = ps.read_segment_metadata(seg)
    docs, exact = ps.segment_filter_docs(
        meta, ps._read_psf(meta), ("cat", "regexp_like", "null")
    )
    assert not exact  # candidates include the null doc; residual re-checks
    got = ps.read_segment_pandas(seg, where=("cat", "regexp_like", "null"))
    assert got["cat"].tolist() == ["null-ish"]  # the real null never matches


# --- round-6 second-review regression tests --------------------------------


def test_empty_string_dictionary_value_round_trips(tmp_path):
    """'' is a legal dictionary value; it rides the FINAL flag on the
    epsilon arc. An fst_index answer must not drop its rows."""
    fst = nti.ImmutableFst(nti.serialize_fst([("", 0), ("a", 1)]))
    assert fst.lookup("") == 0 and fst.lookup("a") == 1
    assert sorted(fst.terms()) == [("", 0), ("a", 1)]
    # only term is '': no-children branch
    fst2 = nti.ImmutableFst(nti.serialize_fst([("", 5)]))
    assert fst2.lookup("") == 5 and fst2.terms() == [("", 5)]
    # end to end: pattern 'z*' matches '' under re.search
    pdf = pd.DataFrame({"cat": ["", "a", "zz", ""]})
    seg = str(tmp_path / "empty")
    ps.write_segment_pandas(
        pdf, seg, fst_index_columns=["cat"], inverted_index_columns=["cat"]
    )
    got = ps.read_segment_pandas(seg, where=("cat", "regexp_like", "z*"))
    assert got["cat"].tolist() == ["", "a", "zz", ""]  # z* matches everything


def test_read_segments_regexp_like_distributed(spark, tmp_path):
    """prune_segments must pass regexp_like through (it previously
    raised 'unknown prune op' on the main distributed entry point)."""
    pdf = pd.DataFrame({"cat": ["alpha", "beta", "gamma"] * 20})
    seg = str(tmp_path / "dist")
    ps.write_segment_pandas(pdf, seg, fst_index_columns=["cat"])
    df = ps.read_segments(spark, [seg], where=("cat", "regexp_like", "^a"))
    assert df.count() == 20


def test_backslash_classes_survive_sql_literal():
    """\\d must reach rlike as \\d, not 'd' (Spark literal escaping)."""
    expr = nti.analyzed_contains_expr("text", r"v\d+")
    assert "\\\\d" in expr


def test_backslash_pattern_end_to_end(spark, tmp_path):
    pdf = pd.DataFrame({"id": [0, 1], "text": ["token v7 here", "vd here"]})
    seg = str(tmp_path / "bs")
    ps.write_segment_pandas(pdf, seg, text_index_columns=["text"])
    fast = nti.read_segments_text_contains(spark, [seg], "text", r"v\d")
    assert [r["id"] for r in fast.collect()] == [0]


def test_regexp_residual_never_matches_null(tmp_path):
    pdf = pd.DataFrame({"n": pd.array([1, None, 23], dtype="Int64")})
    seg = str(tmp_path / "nullnum")
    ps.write_segment_pandas(pdf, seg)
    got = ps.read_segment_pandas(seg, where=("n", "regexp_like", "."))
    assert got["n"].tolist() == [1, 23]  # '<NA>' must not match '.'


def test_long_dictionary_value_no_recursion_error(tmp_path):
    pdf = pd.DataFrame({"t": ["x" * 5000, "short"]})
    seg = str(tmp_path / "long")
    ps.write_segment_pandas(pdf, seg, fst_index_columns=["t"])
    meta = ps.read_segment_metadata(seg)
    docs, exact = ps.segment_filter_docs(
        meta, ps._read_psf(meta), ("t", "regexp_like", "^x{5000}$")
    )
    assert exact and list(docs) == [0]


def test_index_on_raw_or_mv_column_fails_loudly(tmp_path):
    pdf = pd.DataFrame({"t": ["a", "b"]})
    with pytest.raises(ps.UnsupportedSegmentError, match="raw"):
        ps.write_segment_pandas(
            pdf,
            str(tmp_path / "rawidx"),
            raw_columns={"t": "LZ4"},
            fst_index_columns=["t"],
        )
    with pytest.raises(ps.UnsupportedSegmentError):
        ps.write_segment_pandas(
            pd.DataFrame({"mv": [["a"], ["b"]]}),
            str(tmp_path / "mvidx"),
            json_index_columns=["mv"],
        )


def test_prefix_subtree_enumeration():
    fst = nti.ImmutableFst(
        nti.serialize_fst(
            [("alpha", 0), ("alphabet", 1), ("beta", 2), ("betamax", 3)]
        )
    )
    assert sorted(fst.terms_with_prefix("alpha")) == [("alpha", 0), ("alphabet", 1)]
    assert fst.terms_with_prefix("alphabe") == [("alphabet", 1)]
    assert fst.terms_with_prefix("zz") == []
    assert sorted(fst.terms_with_prefix("")) == sorted(fst.terms())
