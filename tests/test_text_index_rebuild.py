"""Rebuild-on-migrate for text/FST indexes (round-7 item 4).

A deployment migrated from the reference may carry Lucene-format text
indexes (`{col}.lucene.index` directories,
V1Constants.Indexes.LUCENE_TEXT_INDEX_FILE_EXTENSION) whose binary
format this repo deliberately does not decode — TEXT_MATCH scans until
re-indexed. `rebuild_text_indexes` regenerates `.nativetext.idx` from
the decoded forward index (and FSA5 `.lucene.fst` for dictionary
columns whose fst_index bytes are a Lucene codec), restoring the
accelerated paths with results identical to the expression scan.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from hurricanedb_spark.sources import native_text_index as nti
from hurricanedb_spark.sources import pinot_segment as ps
from tests.segment_decodes import collect_decoding


def _mk_segment(tmp_path, name, with_lucene_dir=True, bogus_fst=False):
    docs = [
        "spark merges columnar data",
        "delta stream processing",
        "sparkly ornaments",
        "quartz crystal scheduling",
        "plain text with nothing",
    ]
    rows = [f"{d} row {i}" for i in range(40) for d in docs]
    pdf = pd.DataFrame(
        {"id": np.arange(len(rows), dtype=np.int64), "text": rows}
    )
    seg = str(tmp_path / name)
    ps.write_segment_pandas(pdf, seg)
    d = ps._resolve_dir(seg)
    if with_lucene_dir:
        # what a migrated reference segment looks like: a Lucene index
        # directory we cannot decode, named {col}.lucene.index
        lux = os.path.join(d, "text.lucene.index")
        os.makedirs(lux, exist_ok=True)
        with open(os.path.join(lux, "segments_1"), "wb") as f:
            f.write(b"\x3f\xd7\x6c\x17lucene-codec-bytes")
    if bogus_fst:
        # splice a fake Lucene-codec fst_index entry into columns.psf
        import struct

        psf_path = os.path.join(d, ps.INDEX_FILE)
        offset = os.path.getsize(psf_path)
        payload = b"\xc0\xde-lucene-fst-not-fsa5"
        with open(psf_path, "ab") as f:
            f.write(struct.pack(">Q", ps.MAGIC_MARKER) + payload)
        with open(os.path.join(d, ps.INDEX_MAP_FILE), "a", encoding="utf-8") as f:
            f.write(f"text.fst_index.startOffset = {offset}\n")
            f.write(f"text.fst_index.size = {len(payload) + 8}\n")
    return seg, pdf


def test_detect_lucene_text_columns(tmp_path):
    seg, _ = _mk_segment(tmp_path, "seg_a")
    assert nti.lucene_text_index_columns(seg) == ["text"]
    seg2, _ = _mk_segment(tmp_path, "seg_b", with_lucene_dir=False)
    assert nti.lucene_text_index_columns(seg2) == []


def test_rebuild_restores_accelerated_text_path(spark, tmp_path):
    seg, pdf = _mk_segment(tmp_path, "seg_c")
    # before rebuild: no native index -> reader raises, scan fallback
    with pytest.raises(Exception):
        nti.read_native_text_index(seg, "text")
    done = nti.rebuild_text_indexes(seg)
    assert done["text"] == ["text"]
    idx = nti.read_native_text_index(seg, "text")
    # postings agree with a python reference over the decoded rows
    expect = {
        i for i, t in enumerate(pdf["text"]) if "spark" in nti.analyze(t)
    }
    assert set(int(x) for x in idx.doc_ids_for_term("spark")) == expect
    # accelerated TEXT_CONTAINS equals the expression path
    fast = nti.read_segments_text_contains(spark, [seg], "text", "spark")
    slow = ps.read_segments(spark, [seg]).filter(
        F.expr(nti.analyzed_contains_expr("text", "spark"))
    )
    assert sorted(r["id"] for r in fast.collect()) == sorted(
        r["id"] for r in slow.collect()
    )


def test_rebuild_replaces_unreadable_fst(tmp_path):
    seg, _ = _mk_segment(tmp_path, "seg_d", with_lucene_dir=False, bogus_fst=True)
    assert nti._unreadable_fst_columns(seg) == ["text"]
    done = nti.rebuild_text_indexes(seg)
    assert done["fst"] == ["text"]
    # the rebuilt entry parses and maps every dictionary value to its id
    meta = ps.read_segment_metadata(seg)
    psf = ps._read_psf(meta)
    fst = nti.ImmutableFst(ps._index_buffer(meta, psf, "text", "fst_index"))
    dvals = list(
        ps._decode_dictionary(
            ps._index_buffer(meta, psf, "text", "dictionary"),
            meta.columns["text"],
        )
    )
    for i, v in enumerate(dvals[:50]):
        assert fst.lookup(v) == i
    assert nti._unreadable_fst_columns(seg) == []


def test_rebuild_preserves_all_other_entries(spark, tmp_path):
    seg, pdf = _mk_segment(tmp_path, "seg_e")
    before = ps.read_segment_pandas(seg)
    nti.rebuild_text_indexes(seg)
    after = ps.read_segment_pandas(seg)
    pd.testing.assert_frame_equal(before, after)
    # metadata still parses; index_map has exactly one text_index entry
    meta = ps.read_segment_metadata(seg)
    assert ("text", "text_index") in meta.index_map


def test_rebuild_segment_skip_after_migration(spark, tmp_path):
    # two migrated segments, one without the term; after rebuild the
    # index prunes it
    seg1, _ = _mk_segment(tmp_path, "seg_f")
    docs = pd.DataFrame(
        {
            "id": np.arange(10, dtype=np.int64) + 5000,
            "text": ["unrelated words only"] * 10,
        }
    )
    seg2 = str(tmp_path / "seg_g")
    ps.write_segment_pandas(docs, seg2)
    d = ps._resolve_dir(seg2)
    os.makedirs(os.path.join(d, "text.lucene.index"), exist_ok=True)
    for s in (seg1, seg2):
        nti.rebuild_text_indexes(s)
    fast = nti.read_segments_text_contains(spark, [seg1, seg2], "text", "spark")
    assert collect_decoding(fast)[1] == 1  # seg_g pruned entirely


def test_cli_rebuild(tmp_path, capsys):
    import sys

    sys.path.insert(0, "tools")
    import migrate_segments as ms

    _mk_segment(tmp_path, "seg_h")
    ms.rebuild_text_index(str(tmp_path), None)
    out = capsys.readouterr().out
    assert "rebuilt 1 text" in out


def test_register_warns_on_unrebuilt_lucene_indexes(spark, tmp_path):
    """Registering a migrated store whose Lucene text indexes have no
    native equivalent warns loudly (silent full-scan degradation was
    round-7 missing #5); after rebuild the registration is quiet."""
    import warnings

    from hurricanedb_spark.sql.dialect import HurricaneSQL

    seg, _ = _mk_segment(tmp_path, "seg_w", with_lucene_dir=True)
    h = HurricaneSQL(spark)
    with pytest.warns(RuntimeWarning, match="rebuild-text-index"):
        h.register_segment_table("warn_docs", str(tmp_path))
    nti.rebuild_text_indexes(seg)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        h.register_segment_table("warn_docs2", str(tmp_path))


def test_register_distinguishes_corrupt_text_index(spark, tmp_path):
    """A text_index entry that EXISTS but fails the header magic is a
    distinct condition from a missing index: the warning must say
    corruption/foreign codec, not 'pending rebuild'. The probe is
    header-only (it must classify without a full FST parse)."""
    import struct

    from hurricanedb_spark.sql.dialect import HurricaneSQL

    seg, _ = _mk_segment(tmp_path, "seg_c", with_lucene_dir=True)
    nti.rebuild_text_indexes(seg)
    # corrupt the FST magic in place: 8-byte psf marker stays valid,
    # the 4 magic bytes after it get flipped
    meta = ps.read_segment_metadata(seg)
    start, _size = meta.index_map[("text", "text_index")]
    psf_path = os.path.join(meta.segment_dir, ps.INDEX_FILE)
    with open(psf_path, "r+b") as f:
        f.seek(start + 8)
        f.write(struct.pack(">i", 0x0BADF00D))
    h = HurricaneSQL(spark)
    with pytest.warns(RuntimeWarning, match="foreign codec or corruption"):
        h.register_segment_table("corrupt_docs", str(tmp_path))


def test_text_probe_cached_per_segment(tmp_path):
    """Registration-time probing is metadata-cheap and cached: the
    second probe of an unchanged segment must not re-read headers."""
    from hurricanedb_spark.sql import dialect as dsql

    seg, _ = _mk_segment(tmp_path, "seg_p", with_lucene_dir=True)
    first = dsql._probe_native_text_headers(seg)
    assert first[0] == ["text"] and first[1] == []
    key_count = len(dsql._TEXT_PROBE_CACHE)
    again = dsql._probe_native_text_headers(seg)
    assert again == first
    assert len(dsql._TEXT_PROBE_CACHE) == key_count  # cache hit, no new key
    # rebuilding rewrites columns.psf -> mtime key changes -> fresh probe
    nti.rebuild_text_indexes(seg)
    assert dsql._probe_native_text_headers(seg) == ([], [])
    # superseded mtime keys for the same segment are evicted, not
    # accumulated (long-lived-session leak)
    assert len([k for k in dsql._TEXT_PROBE_CACHE if k[0] == seg]) == 1


def test_text_probe_sees_standalone_index_rewrite(tmp_path):
    """v1/v2 standalone text-index files can be rewritten WITHOUT touching
    columns.psf; the probe cache must key on their mtimes too, or it
    serves stale corrupt/present classifications."""
    import struct
    import time

    from hurricanedb_spark.sql import dialect as dsql

    seg, _ = _mk_segment(tmp_path, "seg_v1", with_lucene_dir=True)
    d = ps._resolve_dir(seg)
    # downgrade to the v1/v2 layout: no index-map file, per-index
    # standalone files named <column><extension>
    os.remove(os.path.join(d, ps.INDEX_MAP_FILE))
    standalone = os.path.join(d, "text.nativetext.idx")
    with open(standalone, "wb") as f:
        f.write(b"\x00\x00\x00\x00junk")  # wrong magic -> corrupt
    assert dsql._probe_native_text_headers(seg) == ([], ["text"])
    # rewrite the standalone file with a valid header; columns.psf is
    # untouched, so only the standalone mtime distinguishes the state
    time.sleep(0.02)
    with open(standalone, "wb") as f:
        f.write(struct.pack(">i", nti.FST_MAGIC) + b"rest")
    assert dsql._probe_native_text_headers(seg) == ([], [])
    assert len([k for k in dsql._TEXT_PROBE_CACHE if k[0] == seg]) == 1
