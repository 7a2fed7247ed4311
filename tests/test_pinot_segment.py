"""Native v3 segment reader/writer (sources/pinot_segment.py).

Round-trips plus structural golden checks pinned to the reference's
public constants: the 0xdeadbeefdeafbead magic marker
(SingleFileIndexDirectory.java:72), PinotDataBitSet bit packing
(MSB-first), the getNumBitsPerValue vectors from its javadoc, the
var-length dictionary ".vl;" header (VarLengthValueWriter.java), and
the metadata.properties key names (V1Constants.MetadataKeys).
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pandas as pd
import pytest

from hurricanedb_spark.sources import pinot_segment as ps
from tests.segment_decodes import collect_decoding, decoded_segments, small_batches


def _sample_pdf(n=500, seed=3):
    rng = np.random.default_rng(seed)
    return pd.DataFrame(
        {
            "k_int": rng.integers(-1000, 1000, n).astype(np.int32),
            "k_long": rng.integers(-(2**40), 2**40, n).astype(np.int64),
            "k_float": rng.random(n).astype(np.float32),
            "k_double": rng.normal(size=n),
            "k_str": [f"val-{i % 37}-ü" for i in range(n)],
        }
    )


def test_bits_per_element_matches_reference_javadoc():
    # PinotDataBitSet.getNumBitsPerValue: maxValue -> bits; we pass
    # cardinality (maxValue = cardinality - 1)
    for max_value, bits in [(0, 1), (1, 1), (2, 2), (9, 4), (113, 7)]:
        assert ps.bits_per_element(max_value + 1) == bits


def test_bit_packing_golden_and_inverse():
    # ids [0,1,2,1] at 2 bits -> bitstream 00 01 10 01 -> byte 0x19
    packed = ps._pack_dict_ids([0, 1, 2, 1], 2)
    assert packed == bytes([0b00011001])
    assert list(ps._unpack_dict_ids(packed, 4, 2)) == [0, 1, 2, 1]
    # crossing byte boundaries: 5 ids at 3 bits = 15 bits -> 2 bytes
    ids = [5, 0, 7, 2, 3]
    packed = ps._pack_dict_ids(ids, 3)
    assert len(packed) == 2
    assert list(ps._unpack_dict_ids(packed, 5, 3)) == ids


def test_round_trip_all_types(tmp_path):
    pdf = _sample_pdf()
    seg = str(tmp_path / "seg1")
    ps.write_segment_pandas(pdf, seg, table_name="t", segment_name="seg1")
    back = ps.read_segment_pandas(seg, columns=list(pdf.columns))
    pd.testing.assert_frame_equal(back, pdf, check_dtype=True)


def test_v3_layout_and_magic_markers(tmp_path):
    seg = str(tmp_path / "seg2")
    ps.write_segment_pandas(_sample_pdf(50), seg)
    d = os.path.join(seg, "v3")
    for fname in ("metadata.properties", "index_map", "columns.psf", "creation.meta"):
        assert os.path.isfile(os.path.join(d, fname)), fname
    meta = ps.read_segment_metadata(seg)
    with open(os.path.join(d, "columns.psf"), "rb") as f:
        psf = f.read()
    # every index_map entry starts at the magic marker; sizes tile the file
    total = 0
    for (col, idx), (start, size) in sorted(
        meta.index_map.items(), key=lambda kv: kv[1][0]
    ):
        assert struct.unpack_from(">Q", psf, start)[0] == 0xDEADBEEFDEAFBEAD
        assert start == total
        total += size
    assert total == len(psf)
    # creation.meta = crc, creationTime as two BE longs
    with open(os.path.join(d, "creation.meta"), "rb") as f:
        crc, ts = struct.unpack(">qq", f.read())
    assert ts > 0


def test_metadata_reference_key_names(tmp_path):
    seg = str(tmp_path / "seg3")
    ps.write_segment_pandas(_sample_pdf(20), seg, time_column="k_long")
    with open(os.path.join(seg, "v3", "metadata.properties"), encoding="utf-8") as f:
        text = f.read()
    # exact key names from V1Constants.MetadataKeys
    for key in (
        "segment.total.docs",
        "segment.index.version = v3",
        "segment.time.column.name = k_long",
        "column.k_int.cardinality",
        "column.k_int.dataType = INT",
        "column.k_long.dataType = LONG",
        "column.k_float.dataType = FLOAT",
        "column.k_double.dataType = DOUBLE",
        "column.k_str.dataType = STRING",
        "column.k_str.lengthOfEachEntry",
        "column.k_int.bitsPerElement",
        "column.k_int.isSorted",
        "column.k_int.hasDictionary = true",
        "column.k_int.isSingleValues = true",
    ):
        assert key in text, key


def test_string_dictionary_fixed_width_padding(tmp_path):
    pdf = pd.DataFrame({"s": ["aa", "b", "cécé", "b", "aa"]})
    seg = str(tmp_path / "seg4")
    ps.write_segment_pandas(pdf, seg)
    meta = ps.read_segment_metadata(seg)
    cm = meta.columns["s"]
    assert cm.cardinality == 3
    # max UTF-8 byte length: 'cécé' = 6 bytes
    assert cm.dictionary_element_size == 6
    with open(os.path.join(meta.segment_dir, "columns.psf"), "rb") as f:
        psf = f.read()
    buf = ps._index_buffer(meta, psf, "s", "dictionary")
    # sorted, '\0'-padded entries (V1Constants.Str.DEFAULT_STRING_PAD_CHAR)
    assert buf == "aa".encode().ljust(6, b"\0") + "b".encode().ljust(6, b"\0") + "cécé".encode()
    back = ps.read_segment_pandas(seg)
    assert list(back["s"]) == list(pdf["s"])


def test_var_length_string_dictionary(tmp_path):
    pdf = pd.DataFrame({"s": ["long-string-" * 3, "x", "mid-size", "x"]})
    seg = str(tmp_path / "seg5")
    ps.write_segment_pandas(pdf, seg, var_length_string_dicts=True)
    meta = ps.read_segment_metadata(seg)
    with open(os.path.join(meta.segment_dir, "columns.psf"), "rb") as f:
        psf = f.read()
    buf = ps._index_buffer(meta, psf, "s", "dictionary")
    # VarLengthValueWriter header: ".vl;" + version 1 + numValues + dataOffset 16
    assert buf[:4] == b".vl;"
    assert struct.unpack_from(">iii", buf, 4) == (1, 3, 16)
    back = ps.read_segment_pandas(seg)
    assert list(back["s"]) == list(pdf["s"])


def test_sorted_column_uses_range_forward_index(tmp_path):
    pdf = pd.DataFrame({"t": np.repeat([10, 20, 30], [4, 3, 5]).astype(np.int64)})
    seg = str(tmp_path / "seg6")
    ps.write_segment_pandas(pdf, seg)
    meta = ps.read_segment_metadata(seg)
    cm = meta.columns["t"]
    assert cm.is_sorted
    with open(os.path.join(meta.segment_dir, "columns.psf"), "rb") as f:
        psf = f.read()
    fwd = ps._index_buffer(meta, psf, "t", "forward_index")
    # SingleValueSortedForwardIndexCreator: (minDocId, maxDocId) per dictId
    assert len(fwd) == cm.cardinality * 8
    assert struct.unpack(">6i", fwd) == (0, 3, 4, 6, 7, 11)
    back = ps.read_segment_pandas(seg)
    assert list(back["t"]) == list(pdf["t"])


def test_missing_column(tmp_path):
    seg = str(tmp_path / "seg7")
    ps.write_segment_pandas(_sample_pdf(10), seg)
    with pytest.raises(KeyError, match="not in segment"):
        ps.read_segment_pandas(seg, columns=["nope"])


def test_roaring_round_trip_array_and_bitmap_containers():
    # dense low key -> RUN container under the reference's runOptimize
    # rule (round-13: the writer matches RoaringBitmapWriter's
    # runCompress flush, so the dense range serializes as one run and
    # the stream carries the with-run cookie); key-1 stays array
    vals = (
        list(range(0, 5000))
        + [70000, 70002, 99999]  # key 1 -> array container
    )
    data = ps.roaring_serialize(vals)
    cookie = struct.unpack_from("<i", data, 0)[0]
    assert cookie & 0xFFFF == 12347 and (cookie >> 16) + 1 == 2
    back = ps.roaring_deserialize(data)
    assert sorted(back.tolist()) == sorted(vals)
    # genuinely run-free data keeps the no-run cookie
    sparse = ps.roaring_serialize([1, 5, 7, 100, 65535])
    assert struct.unpack_from("<i", sparse, 0)[0] == 12346


def test_roaring_run_container_decode():
    # hand-built with-run stream (cookie 12347): runs [5..7] and [10..10]
    stream = (
        struct.pack("<i", 12347)  # size-1 == 0 in high bits
        + bytes([0b1])  # run flag for container 0
        + struct.pack("<HH", 0, 3)  # key 0, cardinality-1 = 3
        + struct.pack("<H", 2)  # numRuns
        + struct.pack("<HHHH", 5, 2, 10, 0)  # (start, len-1) pairs
    )
    back = ps.roaring_deserialize(stream)
    assert back.tolist() == [5, 6, 7, 10]


def test_null_value_vector_round_trip(tmp_path):
    pdf = pd.DataFrame(
        {
            "d": [1.5, None, 2.5, None, 1.5],
            "s": ["a", "b", None, "b", "a"],
            "i": pd.array([7, None, 9, 7, None], dtype="Int64"),
        }
    )
    seg = str(tmp_path / "segnull")
    ps.write_segment_pandas(pdf, seg)
    meta = ps.read_segment_metadata(seg)
    assert ("d", "nullvalue_vector") in meta.index_map
    back = ps.read_segment_pandas(seg)
    assert back["d"].isna().tolist() == [False, True, False, True, False]
    assert back["s"].tolist() == ["a", "b", None, "b", "a"]
    assert back["i"].isna().tolist() == [False, True, False, False, True]
    assert back["i"].dropna().tolist() == [7, 9, 7]
    # null docs carry FieldSpec defaults in the dictionary (STRING "null")
    with open(
        f"{meta.segment_dir}/columns.psf", "rb"
    ) as f:
        psf = f.read()
    s_dict = ps._decode_dictionary(
        ps._index_buffer(meta, psf, "s", "dictionary"), meta.columns["s"]
    )
    assert "null" in s_dict


def test_mv_column_round_trip(tmp_path):
    pdf = pd.DataFrame(
        {
            "doc": np.arange(6, dtype=np.int64),
            "tags": [
                ["red", "green"],
                ["green"],
                ["blue", "red", "blue"],
                ["x"],
                ["red"],
                ["green", "blue"],
            ],
            "nums": [[1, 2, 3], [4], [1], [9, 9], [2], [5, 1]],
        }
    )
    seg = str(tmp_path / "segmv")
    ps.write_segment_pandas(pdf, seg)
    meta = ps.read_segment_metadata(seg)
    cm = meta.columns["tags"]
    assert not cm.is_single_value
    assert cm.total_entries == 10
    back = ps.read_segment_pandas(seg, columns=["doc", "tags", "nums"])
    assert [list(x) for x in back["tags"]] == [list(x) for x in pdf["tags"]]
    assert [list(map(int, x)) for x in back["nums"]] == [
        list(x) for x in pdf["nums"]
    ]
    # spark schema marks MV columns as arrays
    schema = ps.segment_spark_schema(seg)
    assert "`tags` array<string>" in schema and "`nums` array<bigint>" in schema


def test_mv_docs_per_chunk_matches_writer_int_division():
    # FixedBitMVForwardIndexWriter:79-80 uses int division for the average
    assert ps._mv_docs_per_chunk(10, 35) == 683  # avg=3 -> ceil(2048/3)
    assert ps._mv_docs_per_chunk(4, 4) == 2048
    assert ps._mv_docs_per_chunk(10, 9) == 2**31 - 1  # avg 0 edge

def test_mv_empty_cell_rejected(tmp_path):
    with pytest.raises(ValueError, match="empty"):
        ps.write_segment_pandas(
            pd.DataFrame({"m": [[1], []]}), str(tmp_path / "segbad")
        )


def test_mv_spark_read(spark, tmp_path):
    pdf = pd.DataFrame(
        {
            "k": np.arange(50, dtype=np.int64),
            "mv": [[f"t{i % 5}", f"t{(i + 1) % 7}"] for i in range(50)],
        }
    )
    seg = str(tmp_path / "segmv2")
    ps.write_segment_pandas(pdf, seg)
    df = ps.read_segments(spark, [seg])
    rows = {r["k"]: r["mv"] for r in df.collect()}
    assert rows[3] == ["t3", "t4"]
    assert len(rows) == 50


def test_corrupt_magic_marker_detected(tmp_path):
    seg = str(tmp_path / "seg8")
    ps.write_segment_pandas(_sample_pdf(10), seg)
    p = os.path.join(seg, "v3", "columns.psf")
    with open(p, "r+b") as f:
        f.seek(0)
        f.write(b"\x00" * 8)
    with pytest.raises(ValueError, match="magic marker"):
        ps.read_segment_pandas(seg)


def test_read_segments_spark_distributed(spark, sf_dir, tmp_path):
    from hurricanedb_spark.catalog.tables import load_table

    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    pdf = nat.toPandas().sort_values("n_nationkey").reset_index(drop=True)
    # three segments, as a segment store would hold them
    segs = []
    for i, part in enumerate(np.array_split(pdf, 3)):
        seg = str(tmp_path / f"nation_{i}")
        ps.write_segment_pandas(part.reset_index(drop=True), seg, "nation")
        segs.append(seg)
    df = ps.read_segments(spark, segs)
    assert df.count() == len(pdf)
    got = df.toPandas().sort_values("n_nationkey").reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got[["n_nationkey", "n_name", "n_regionkey"]].astype(
            {"n_nationkey": "int64", "n_regionkey": "int64"}
        ),
        pdf.astype({"n_nationkey": "int64", "n_regionkey": "int64"}),
    )
    # column pruning: only the requested columns decode
    pruned = ps.read_segments(spark, segs, columns=["n_name"])
    assert pruned.columns == ["n_name"]
    assert pruned.count() == len(pdf)


def test_export_segments_spark_round_trip(spark, sf_dir, tmp_path):
    from hurricanedb_spark.catalog.tables import load_table

    reg = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    out = str(tmp_path / "export")
    paths = ps.export_segments(reg.repartition(2), out, "region")
    assert 1 <= len(paths) <= 2
    back = ps.read_segments(spark, paths)
    assert sorted(
        (r["r_regionkey"], r["r_name"]) for r in back.collect()
    ) == sorted((r["r_regionkey"], r["r_name"]) for r in reg.collect())


@pytest.mark.parametrize(
    "compression",
    ["PASS_THROUGH", "SNAPPY", "ZSTANDARD", "LZ4", "LZ4_LENGTH_PREFIXED"],
)
def test_raw_sv_round_trip_all_compressions(tmp_path, compression):
    rng = np.random.default_rng(11)
    pdf = pd.DataFrame(
        {
            "m_double": rng.normal(size=3000),
            "m_long": rng.integers(0, 10**12, 3000).astype(np.int64),
            "txt": [f"payload-{i}-" + "x" * (i % 40) for i in range(3000)],
        }
    )
    seg = str(tmp_path / f"raw_{compression}")
    ps.write_segment_pandas(
        pdf,
        seg,
        raw_columns={
            "m_double": compression,
            "m_long": compression,
            "txt": compression,
        },
    )
    meta = ps.read_segment_metadata(seg)
    assert not meta.columns["m_double"].has_dictionary
    with open(f"{meta.segment_dir}/columns.psf", "rb") as f:
        psf = f.read()
    fwd = ps._index_buffer(meta, psf, "m_double", "forward_index")
    # header golden: version 3, sizeOfEntry 8, compression id, offsets at 28
    ver, n_chunks, dpc, entry = struct.unpack_from(">iiii", fwd, 0)
    total, comp_id, dh_start = struct.unpack_from(">iii", fwd, 16)
    assert (ver, entry, total, dh_start) == (3, 8, 3000, 28)
    assert comp_id == {"PASS_THROUGH": 0, "SNAPPY": 1, "ZSTANDARD": 2,
                       "LZ4": 3, "LZ4_LENGTH_PREFIXED": 4}[compression]
    back = ps.read_segment_pandas(seg)
    pd.testing.assert_series_equal(back["m_double"], pdf["m_double"], check_names=True)
    pd.testing.assert_series_equal(back["m_long"], pdf["m_long"])
    assert back["txt"].tolist() == pdf["txt"].tolist()


def test_raw_sv_multi_chunk_partial_tail(tmp_path):
    # > 1 MiB of doubles forces multiple chunks with a partial tail
    n = 200_000
    pdf = pd.DataFrame({"v": np.arange(n, dtype=np.float64)})
    seg = str(tmp_path / "rawchunks")
    ps.write_segment_pandas(pdf, seg, raw_columns={"v": "ZSTANDARD"})
    meta = ps.read_segment_metadata(seg)
    with open(f"{meta.segment_dir}/columns.psf", "rb") as f:
        psf = f.read()
    fwd = ps._index_buffer(meta, psf, "v", "forward_index")
    _, n_chunks, dpc, _ = struct.unpack_from(">iiii", fwd, 0)
    assert n_chunks == -(-n // dpc) and n_chunks >= 2
    back = ps.read_segment_pandas(seg)
    assert (back["v"].to_numpy() == pdf["v"].to_numpy()).all()


def test_raw_sv_nulls_round_trip(tmp_path):
    pdf = pd.DataFrame({"v": [1.5, None, 3.5, None, 5.0]})
    seg = str(tmp_path / "rawnull")
    ps.write_segment_pandas(pdf, seg, raw_columns={"v": "SNAPPY"})
    back = ps.read_segment_pandas(seg)
    assert back["v"].isna().tolist() == [False, True, False, True, False]
    assert back["v"].dropna().tolist() == [1.5, 3.5, 5.0]


def test_lz4_block_decoder_against_pyarrow():
    import pyarrow as pa

    rng = np.random.default_rng(5)
    for size in (0, 1, 17, 1000, 70000):
        # compressible + random mix
        data = (b"abcd" * (size // 3 + 1))[:size // 2] + rng.bytes(size - size // 2)
        block = bytes(pa.Codec("lz4_raw").compress(data))
        assert ps.lz4_block_decompress(block) == data

# ---------------------------------------------------------------------------
# property-based round trip (hypothesis)

from hypothesis import given, settings, strategies as hst  # noqa: E402

_texts = hst.text(
    alphabet=hst.characters(blacklist_categories=("Cs",), max_codepoint=0x2FFF),
    min_size=0,
    max_size=24,
)


def _col_strategy(kind):
    if kind == "INT":
        return hst.lists(
            hst.one_of(hst.integers(-(2**31), 2**31 - 1), hst.none()),
            min_size=1,
            max_size=60,
        )
    if kind == "LONG":
        return hst.lists(
            hst.one_of(hst.integers(-(2**63), 2**63 - 1), hst.none()),
            min_size=1,
            max_size=60,
        )
    if kind == "DOUBLE":
        return hst.lists(
            hst.one_of(
                hst.floats(allow_nan=False, width=64), hst.none()
            ),
            min_size=1,
            max_size=60,
        )
    if kind == "STRING":
        return hst.lists(hst.one_of(_texts, hst.none()), min_size=1, max_size=60)
    if kind == "MV_LONG":
        return hst.lists(
            hst.lists(hst.integers(-(2**40), 2**40), min_size=1, max_size=6),
            min_size=1,
            max_size=60,
        )
    raise AssertionError(kind)


@settings(max_examples=40, deadline=None)
@given(
    kind=hst.sampled_from(["INT", "LONG", "DOUBLE", "STRING", "MV_LONG"]),
    data=hst.data(),
)
def test_property_round_trip(tmp_path_factory, kind, data):
    vals = data.draw(_col_strategy(kind))
    if kind == "MV_LONG":
        pdf = pd.DataFrame({"c": pd.Series(vals, dtype="object")})
    elif kind == "INT":
        pdf = pd.DataFrame({"c": pd.array(vals, dtype="Int32")})
    elif kind == "LONG":
        pdf = pd.DataFrame({"c": pd.array(vals, dtype="Int64")})
    elif kind == "DOUBLE":
        pdf = pd.DataFrame({"c": pd.Series(vals, dtype="float64")})
    else:
        pdf = pd.DataFrame({"c": pd.Series(vals, dtype="object")})
    # the reference's null contract cannot represent the literal pad
    # values; FieldSpec defaults occupy those slots
    seg = str(tmp_path_factory.mktemp("prop") / "seg")
    ps.write_segment_pandas(pdf, seg)
    back = ps.read_segment_pandas(seg)
    got = back["c"]
    exp = pdf["c"]
    if kind == "MV_LONG":
        assert [list(map(int, a)) for a in got] == [list(a) for a in exp]
        return
    assert got.isna().tolist() == exp.isna().tolist()
    g, e = got.dropna().tolist(), exp.dropna().tolist()
    if kind == "DOUBLE":
        assert g == pytest.approx(e, nan_ok=True, abs=0, rel=0)
    else:
        assert g == e


def test_trailing_nul_string_switches_to_var_length(tmp_path):
    pdf = pd.DataFrame({"s": ["plain", "ends-in-nul\x00", "x"]})
    seg = str(tmp_path / "segnul0")
    ps.write_segment_pandas(pdf, seg)
    back = ps.read_segment_pandas(seg)
    assert back["s"].tolist() == pdf["s"].tolist()


def test_inverted_index_sv_and_mv(tmp_path):
    pdf = pd.DataFrame(
        {
            "flag": ["a", "b", "a", "c", "b", "a"],
            "tags": [["x"], ["x", "y"], ["y"], ["x"], ["z", "x"], ["y"]],
        }
    )
    seg = str(tmp_path / "seginv")
    ps.write_segment_pandas(
        pdf, seg, inverted_index_columns=["flag", "tags"]
    )
    meta = ps.read_segment_metadata(seg)
    assert ("flag", "inverted_index") in meta.index_map
    with open(f"{meta.segment_dir}/columns.psf", "rb") as f:
        psf = f.read()
    # SV: dict is sorted ['a','b','c']
    inv = ps.read_inverted_index(meta, psf, "flag")
    assert [list(map(int, b)) for b in inv] == [[0, 2, 5], [1, 4], [3]]
    # MV: dict sorted ['x','y','z']; docs containing each tag
    inv_mv = ps.read_inverted_index(meta, psf, "tags")
    assert [list(map(int, b)) for b in inv_mv] == [[0, 1, 3, 4], [1, 2, 5], [4]]
    # consistency contract: inverted == transpose of forward
    back = ps.read_segment_pandas(seg)
    for dict_id, docs in enumerate(inv):
        val = sorted(set(pdf["flag"]))[dict_id]
        assert list(map(int, docs)) == [
            i for i, v in enumerate(back["flag"]) if v == val
        ]


def test_min_max_metadata_and_pruning(tmp_path):
    segs = []
    for i, lo in enumerate([0, 100, 200]):
        pdf = pd.DataFrame(
            {
                "v": np.arange(lo, lo + 50, dtype=np.int64),
                "s": [f"name-{lo + j}" for j in range(50)],
            }
        )
        seg = str(tmp_path / f"p{i}")
        ps.write_segment_pandas(pdf, seg)
        segs.append(seg)
    meta = ps.read_segment_metadata(segs[1])
    assert ps.typed_min_max(meta.columns["v"]) == (100, 149)
    mn, mx = ps.typed_min_max(meta.columns["s"])
    assert (mn, mx) == ("name-100", "name-149")
    # equality hits exactly one segment
    assert ps.prune_segments(segs, "v", "=", 120) == [segs[1]]
    assert ps.prune_segments(segs, "v", ">=", 200) == [segs[2]]
    assert ps.prune_segments(segs, "v", "<", 100) == [segs[0]]
    assert ps.prune_segments(segs, "v", "between", (140, 210)) == segs[1:]
    # unknown column keeps everything (safe)
    assert ps.prune_segments(segs, "nope", "=", 1) == segs


def test_min_max_invalid_for_control_chars(tmp_path):
    pdf = pd.DataFrame({"s": ["ok", "bad\nnewline"]})
    seg = str(tmp_path / "mmx")
    ps.write_segment_pandas(pdf, seg)
    meta = ps.read_segment_metadata(seg)
    assert ps.typed_min_max(meta.columns["s"]) is None
    with open(f"{meta.segment_dir}/metadata.properties", encoding="utf-8") as f:
        assert "column.s.minMaxValueInvalid = true" in f.read()


def test_realtime_to_offline_segments(spark, tmp_path):
    from hurricanedb_spark.operators.compaction import (
        realtime_to_offline_segments,
    )

    rows = [
        (1_000 + i, f"u{i % 3}", float(i)) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "ts_ms bigint, user string, amount double")
    out = str(tmp_path / "offline")
    paths = realtime_to_offline_segments(
        df.repartition(2),
        out,
        "events_offline",
        time_col="ts_ms",
        window_start_ms=1_010,
        window_end_ms=1_040,
    )
    assert paths
    back = ps.read_segments(spark, paths)
    got = sorted(r["ts_ms"] for r in back.collect())
    assert got == list(range(1_010, 1_040))
    # sealed segments carry the reference's time metadata
    meta = ps.read_segment_metadata(paths[0])
    assert meta.props["segment.time.column.name"] == ["ts_ms"]
    assert "segment.start.time" in meta.props
    assert meta.props["segment.time.unit"] == ["MILLISECONDS"]
    lo = int(meta.props["segment.start.time"][0])
    hi = int(meta.props["segment.end.time"][0])
    assert 1_010 <= lo <= hi < 1_040


def test_spark_read_with_nulls(spark, tmp_path):
    pdf = pd.DataFrame(
        {
            "k": np.arange(20, dtype=np.int64),
            "v": [float(i) if i % 3 else None for i in range(20)],
            "s": [f"s{i}" if i % 4 else None for i in range(20)],
        }
    )
    seg = str(tmp_path / "segnullspark")
    ps.write_segment_pandas(pdf, seg)
    df = ps.read_segments(spark, [seg])
    rows = {r["k"]: (r["v"], r["s"]) for r in df.collect()}
    assert rows[0] == (None, None)
    assert rows[1] == (1.0, "s1")
    assert rows[3] == (None, "s3")
    assert rows[4] == (4.0, None)
    assert df.filter("v IS NULL").count() == 7


def test_bloom_filter_layout_and_membership(tmp_path):
    pdf = pd.DataFrame(
        {
            "name": [f"user-{i}" for i in range(300)],
            "uid": np.arange(1000, 1300, dtype=np.int64),
        }
    )
    seg = str(tmp_path / "segbloom")
    ps.write_segment_pandas(
        pdf, seg, bloom_filter_columns=["name", "uid"], bloom_fpp=0.01
    )
    meta = ps.read_segment_metadata(seg)
    assert ("name", "bloom_filter") in meta.index_map
    with open(f"{meta.segment_dir}/columns.psf", "rb") as f:
        psf = f.read()
    buf = ps._index_buffer(meta, psf, "name", "bloom_filter")
    # Pinot envelope (BloomFilterReaderFactory.java:31-41): int
    # TYPE_VALUE=1, int VERSION=1, then the guava reader header:
    # strategy ordinal 1, k, numLongs
    type_value, version = struct.unpack_from(">ii", buf, 0)
    assert (type_value, version) == (1, 1)
    strategy, k, num_longs = struct.unpack_from(">BBi", buf, 8)
    assert strategy == 1 and k >= 1 and num_longs >= 1
    assert len(buf) == 8 + 6 + 8 * num_longs
    # no false negatives
    for i in range(300):
        assert ps.bloom_might_contain(buf, f"user-{i}")
    # false-positive rate near configured fpp
    fp = sum(
        ps.bloom_might_contain(buf, f"absent-{i}") for i in range(2000)
    )
    assert fp < 2000 * 0.05  # 5x slack over fpp=0.01
    # numeric funnel uses Java-style integer strings
    ubuf = ps._index_buffer(meta, psf, "uid", "bloom_filter")
    assert ps.bloom_might_contain(ubuf, "1000")
    assert not all(
        ps.bloom_might_contain(ubuf, str(x)) for x in range(5000, 5100)
    )


def test_bloom_pruning_beats_min_max(tmp_path):
    # two segments with overlapping [min,max] but disjoint value sets:
    # min/max cannot separate them, the bloom filter can
    a = pd.DataFrame({"s": [f"k{i:03d}" for i in range(0, 200, 2)]})  # evens
    b = pd.DataFrame({"s": [f"k{i:03d}" for i in range(1, 200, 2)]})  # odds
    segs = []
    for i, pdf in enumerate((a, b)):
        seg = str(tmp_path / f"bl{i}")
        ps.write_segment_pandas(pdf, seg, bloom_filter_columns=["s"])
        segs.append(seg)
    kept = ps.prune_segments(segs, "s", "=", "k100")  # even -> segment 0
    assert segs[0] in kept and segs[1] not in kept
    kept = ps.prune_segments(segs, "s", "=", "k101")
    assert segs[1] in kept and segs[0] not in kept


def test_bloom_rejects_float_columns(tmp_path):
    with pytest.raises(ps.UnsupportedSegmentError, match="bloom"):
        ps.write_segment_pandas(
            pd.DataFrame({"f": [1.5, 2.5]}),
            str(tmp_path / "segbad2"),
            bloom_filter_columns=["f"],
        )


def test_range_index_layout_and_candidates(tmp_path):
    rng = np.random.default_rng(21)
    vals = rng.integers(0, 500, 5000).astype(np.int64)
    pdf = pd.DataFrame({"v": vals})
    seg = str(tmp_path / "segrange")
    ps.write_segment_pandas(pdf, seg, range_index_columns=["v"])
    meta = ps.read_segment_metadata(seg)
    assert ("v", "range_index") in meta.index_map
    with open(f"{meta.segment_dir}/columns.psf", "rb") as f:
        psf = f.read()
    buf = ps._index_buffer(meta, psf, "v", "range_index")
    dt, bounds, spans = ps._parse_range_index(buf)
    assert dt == "INT" and len(spans) >= 2
    # boundaries ascend; bitmap spans tile the body
    assert bounds == sorted(bounds)
    for (a, b), (c, _d) in zip(spans, spans[1:]):
        assert b == c
    # candidate superset contract for a value range
    lo, hi = 100, 140
    cand = set(int(x) for x in ps.range_index_candidates(meta, psf, "v", lo, hi))
    exact = {i for i, v in enumerate(vals) if lo <= v <= hi}
    assert exact <= cand  # no false negatives
    assert len(cand) <= len(vals)  # and it actually prunes
    assert len(cand) < 0.5 * len(vals)
    # empty value range -> no candidates
    assert len(ps.range_index_candidates(meta, psf, "v", 10_000, 20_000)) == 0


def test_range_index_equal_values_never_split(tmp_path):
    # one value repeated far beyond numValuesPerRange must stay in one range
    pdf = pd.DataFrame({"v": np.array([7] * 3000 + [9] * 10, dtype=np.int64)})
    seg = str(tmp_path / "segrange2")
    ps.write_segment_pandas(pdf, seg, range_index_columns=["v"])
    meta = ps.read_segment_metadata(seg)
    with open(f"{meta.segment_dir}/columns.psf", "rb") as f:
        psf = f.read()
    _dt, bounds, spans = ps._parse_range_index(
        ps._index_buffer(meta, psf, "v", "range_index")
    )
    assert len(spans) <= 2  # 7s cannot split; at most [7s],[9s]
    cand = ps.range_index_candidates(meta, psf, "v", 9, 9)
    assert sorted(int(x) for x in cand) == list(range(3000, 3010))


def test_upsert_valid_docids_snapshot(spark, tmp_path):
    from hurricanedb_spark.operators.compaction import (
        snapshot_upsert_valid_docs,
    )

    # two sealed segments with overlapping primary keys; higher ts wins
    seg_rows = [
        pd.DataFrame(
            {"pk": ["a", "b", "c"], "ts": np.array([1, 5, 3], dtype=np.int64),
             "v": np.array([10, 11, 12], dtype=np.int64)}
        ),
        pd.DataFrame(
            {"pk": ["b", "c", "d"], "ts": np.array([4, 9, 2], dtype=np.int64),
             "v": np.array([20, 21, 22], dtype=np.int64)}
        ),
    ]
    segs = []
    for i, pdf in enumerate(seg_rows):
        seg = str(tmp_path / f"ups{i}")
        ps.write_segment_pandas(pdf, seg)
        segs.append(seg)
    counts = snapshot_upsert_valid_docs(segs, ["pk"], "ts")
    # winners: a(seg0 ts1), b(seg0 ts5), c(seg1 ts9), d(seg1 ts2)
    assert counts == {segs[0]: 2, segs[1]: 2}
    # snapshot file is raw roaring bytes in the v3 dir
    assert ps.read_valid_doc_ids(segs[0]).tolist() == [0, 1]
    assert ps.read_valid_doc_ids(segs[1]).tolist() == [1, 2]
    # default read path serves only live rows; opt-out serves everything
    live = ps.read_segments(spark, segs)
    got = {(r["pk"], r["v"]) for r in live.collect()}
    assert got == {("a", 10), ("b", 11), ("c", 21), ("d", 22)}
    raw = ps.read_segment_pandas(segs[1], apply_valid_doc_ids=False)
    assert len(raw) == 3


def test_v1_layout_round_trip(tmp_path):
    # pre-v3 directory layout: standalone per-index files at segment
    # root (V1Constants.Indexes extensions), no columns.psf/index_map
    pdf = _sample_pdf(80, seed=9)
    seg = str(tmp_path / "segv1")
    ps.write_segment_pandas(
        pdf, seg, layout="v1", inverted_index_columns=["k_str"],
        bloom_filter_columns=["k_str"],
    )
    assert os.path.isfile(os.path.join(seg, "metadata.properties"))
    assert not os.path.exists(os.path.join(seg, "columns.psf"))
    assert not os.path.exists(os.path.join(seg, "index_map"))
    assert os.path.isfile(os.path.join(seg, "k_str.dict"))
    assert os.path.isfile(os.path.join(seg, "k_str.bitmap.inv"))
    assert os.path.isfile(os.path.join(seg, "k_str.bloom"))
    assert os.path.isfile(
        os.path.join(seg, "k_int.sv.unsorted.fwd")
    ) or os.path.isfile(os.path.join(seg, "k_int.sv.sorted.fwd"))
    back = ps.read_segment_pandas(seg, columns=list(pdf.columns))
    pd.testing.assert_frame_equal(back, pdf)
    # index readers work off the per-file layout too
    meta = ps.read_segment_metadata(seg)
    inv = ps.read_inverted_index(meta, b"", "k_str")
    assert sum(len(b) for b in inv) == len(pdf)


def test_v1_layout_raw_and_mv(tmp_path):
    pdf = pd.DataFrame(
        {
            "m": np.arange(100, dtype=np.float64) * 1.5,
            "tags": [[f"t{i % 4}", f"u{i % 3}"] for i in range(100)],
        }
    )
    seg = str(tmp_path / "segv1b")
    ps.write_segment_pandas(
        pdf, seg, layout="v1", raw_columns={"m": "SNAPPY"}
    )
    assert os.path.isfile(os.path.join(seg, "m.sv.raw.fwd"))
    assert os.path.isfile(os.path.join(seg, "tags.mv.fwd"))
    back = ps.read_segment_pandas(seg)
    assert (back["m"].to_numpy() == pdf["m"].to_numpy()).all()
    assert [list(x) for x in back["tags"]] == [list(x) for x in pdf["tags"]]


def test_pinot_sql_over_segment_store(spark, sf_dir, tmp_path):
    """Full switch-over story: existing segments + Pinot SQL, no
    re-ingestion."""
    from hurricanedb_spark.catalog.tables import load_table
    from hurricanedb_spark.sql.dialect import HurricaneSQL

    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    store = str(tmp_path / "store")
    ps.export_segments(nat.repartition(2), store, "nation")
    hdb = HurricaneSQL(spark)
    hdb.register_segment_table("nation_seg", store)
    out = hdb.sql(
        "SELECT n_regionkey, count(*) AS n, distinctcount(n_name) AS dc "
        "FROM nation_seg GROUP BY n_regionkey ORDER BY n_regionkey",
        default_limit=None,
    ).collect()
    exp = {
        r["n_regionkey"]: r["n"]
        for r in nat.groupBy("n_regionkey").count().withColumnRenamed("count", "n").collect()
    }
    assert {r["n_regionkey"]: r["n"] for r in out} == exp
    assert all(r["dc"] == r["n"] for r in out)  # names unique per nation


def test_index_accelerated_row_filtering(spark, tmp_path):
    rng = np.random.default_rng(33)
    pdf = pd.DataFrame(
        {
            "k": rng.integers(0, 50, 2000).astype(np.int64),
            "s": [f"u{i % 17}" for i in range(2000)],
            "v": np.arange(2000, dtype=np.int64),
        }
    )
    segs = []
    for i, part in enumerate(np.array_split(pdf, 3)):
        seg = str(tmp_path / f"f{i}")
        ps.write_segment_pandas(
            part.reset_index(drop=True),
            seg,
            inverted_index_columns=["s"],
            range_index_columns=["k"],
        )
        segs.append(seg)
    # equality via inverted index (exact, no scan verify needed)
    meta = ps.read_segment_metadata(segs[0])
    psf = ps._read_psf(meta)
    docs, exact = ps.segment_filter_docs(meta, psf, ("s", "=", "u3"))
    assert exact
    part0 = ps.read_segment_pandas(segs[0], apply_valid_doc_ids=False)
    assert sorted(int(d) for d in docs) == [
        i for i, v in enumerate(part0["s"]) if v == "u3"
    ]
    # full distributed path: equality + range, vs plain pandas filters
    got_eq = ps.read_segments(spark, segs, where=("s", "=", "u3"))
    assert sorted(r["v"] for r in got_eq.collect()) == sorted(
        pdf.loc[pdf["s"] == "u3", "v"].tolist()
    )
    got_rng = ps.read_segments(spark, segs, where=("k", "between", (10, 14)))
    assert sorted(r["v"] for r in got_rng.collect()) == sorted(
        pdf.loc[(pdf["k"] >= 10) & (pdf["k"] <= 14), "v"].tolist()
    )
    # filter column not in the projection still filters correctly
    proj = ps.read_segments(spark, segs, columns=["v"], where=("s", "=", "u3"))
    assert proj.columns == ["v"]
    assert proj.count() == int((pdf["s"] == "u3").sum())
    # value absent everywhere -> empty result (pruned or index-missed)
    assert ps.read_segments(spark, segs, where=("s", "=", "zz")).count() == 0


def test_row_filter_without_indexes_scans(tmp_path):
    pdf = pd.DataFrame({"a": np.arange(100, dtype=np.int64)})
    seg = str(tmp_path / "noidx")
    ps.write_segment_pandas(pdf, seg)
    out = ps.read_segment_pandas(seg, where=("a", ">=", 90))
    assert out["a"].tolist() == list(range(90, 100))


def test_range_filter_via_le_ge_ops(tmp_path):
    pdf = pd.DataFrame({"k": np.arange(500, dtype=np.int64) % 40})
    seg = str(tmp_path / "lege")
    ps.write_segment_pandas(pdf, seg, range_index_columns=["k"])
    for op, val, pred in (
        ("<=", 5, lambda s: s <= 5),
        (">=", 35, lambda s: s >= 35),
    ):
        out = ps.read_segment_pandas(seg, where=("k", op, val))
        assert sorted(out["k"].tolist()) == sorted(
            pdf.loc[pred(pdf["k"]), "k"].tolist()
        )


def test_float_nulls_use_nullable_dtype(tmp_path):
    pdf = pd.DataFrame({"v": [1.5, None, 2.5]})
    seg = str(tmp_path / "fnull")
    ps.write_segment_pandas(pdf, seg)
    back = ps.read_segment_pandas(seg)
    # nullable Float64, real missing value — not a NaN in a float column
    assert str(back["v"].dtype) == "Float64"
    assert back["v"].isna().tolist() == [False, True, False]


def test_inverted_index_equality_excludes_null_defaults(tmp_path):
    # nulls are stored under the FieldSpec default value ("null" for
    # STRING); an indexed equality probe for that value must NOT return
    # the null rows — same answer as the scan path
    pdf = pd.DataFrame({"s": ["a", None, "null", "a", None]})
    seg = str(tmp_path / "invnull")
    ps.write_segment_pandas(pdf, seg, inverted_index_columns=["s"])
    out = ps.read_segment_pandas(seg, where=("s", "=", "null"))
    # only the REAL "null" string row (doc 2), not the null docs 1/4
    assert len(out) == 1 and out["s"].iloc[0] == "null"
    seg2 = str(tmp_path / "invnull2")
    ps.write_segment_pandas(pdf, seg2)  # no index: scan path
    out2 = ps.read_segment_pandas(seg2, where=("s", "=", "null"))
    assert out2["s"].tolist() == out["s"].tolist()


def test_corrupt_segment_bytes_fail_loudly_not_silently(tmp_path):
    """Random single-byte corruption of columns.psf must either raise a
    clean error or leave decoded values unchanged (flipped padding) —
    never return silently different data without an exception."""
    import random

    pdf = _sample_pdf(200, seed=13)
    seg = str(tmp_path / "segcorrupt")
    ps.write_segment_pandas(pdf, seg)
    baseline = ps.read_segment_pandas(seg)
    p = os.path.join(seg, "v3", "columns.psf")
    with open(p, "rb") as f:
        original = f.read()
    rng = random.Random(99)
    outcomes = {"error": 0, "identical": 0, "changed": 0}
    for _ in range(40):
        pos = rng.randrange(len(original))
        mutated = bytearray(original)
        mutated[pos] ^= 0xFF
        with open(p, "wb") as f:
            f.write(bytes(mutated))
        try:
            got = ps.read_segment_pandas(seg)
        except Exception:  # noqa: BLE001 — any clean Python error is fine
            outcomes["error"] += 1
            continue
        try:
            pd.testing.assert_frame_equal(got, baseline)
            outcomes["identical"] += 1
        except AssertionError:
            outcomes["changed"] += 1
    with open(p, "wb") as f:
        f.write(original)
    # data bytes legitimately change decoded values; what matters is the
    # magic-marker/bounds checks catch structural corruption and nothing
    # segfaults/hangs. Require that structural errors DO surface.
    assert outcomes["error"] > 0
    assert sum(outcomes.values()) == 40


@settings(max_examples=25, deadline=None)
@given(data=hst.data())
def test_property_writer_options_and_filters(tmp_path_factory, data):
    """Random data x random writer options (raw compression, inverted /
    bloom / range indexes, var-length dicts) round-trips and answers
    where= filters identically to a plain pandas filter."""
    rng_n = data.draw(hst.integers(20, 120))
    ints = data.draw(
        hst.lists(hst.integers(-50, 50), min_size=rng_n, max_size=rng_n)
    )
    strs = data.draw(
        hst.lists(
            hst.sampled_from(["a", "bb", "ccc", "dd", "e", "null"]),
            min_size=rng_n,
            max_size=rng_n,
        )
    )
    pdf = pd.DataFrame(
        {"k": pd.array(ints, dtype="Int64"), "s": pd.Series(strs, dtype="object")}
    )
    opts = {}
    if data.draw(hst.booleans()):
        opts["inverted_index_columns"] = ["s"]
    if data.draw(hst.booleans()):
        opts["bloom_filter_columns"] = ["s"]
    if data.draw(hst.booleans()):
        opts["range_index_columns"] = ["k"]
    if data.draw(hst.booleans()):
        opts["var_length_string_dicts"] = True
    comp = data.draw(
        hst.sampled_from([None, "PASS_THROUGH", "SNAPPY", "ZSTANDARD", "LZ4"])
    )
    if comp and not pdf["k"].isna().any():
        opts["raw_columns"] = {"k": comp}
        pdf["k"] = pdf["k"].astype("int64")
    seg = str(tmp_path_factory.mktemp("prop2") / "seg")
    ps.write_segment_pandas(pdf, seg, **opts)
    back = ps.read_segment_pandas(seg)
    assert back["s"].tolist() == pdf["s"].tolist()
    assert back["k"].isna().tolist() == pdf["k"].isna().tolist()
    assert back["k"].dropna().tolist() == pdf["k"].dropna().tolist()
    # where= equality on s matches pandas exactly (incl. the 'null'
    # literal colliding with the FieldSpec default)
    probe = data.draw(hst.sampled_from(["a", "null", "zz"]))
    got = ps.read_segment_pandas(seg, where=("s", "=", probe))
    exp = pdf[pdf["s"] == probe].reset_index(drop=True)
    assert got["s"].tolist() == exp["s"].tolist()
    # range filter on k
    lo = data.draw(hst.integers(-50, 40))
    got_r = ps.read_segment_pandas(seg, where=("k", "between", (lo, lo + 10)))
    exp_r = pdf[(pdf["k"] >= lo) & (pdf["k"] <= lo + 10)]
    assert sorted(got_r["k"].dropna().tolist()) == sorted(
        exp_r["k"].dropna().tolist()
    )
    # IN / NOT_IN on s (posting union / complement when the inverted
    # index exists, scan otherwise; nulls never match either way)
    in_list = data.draw(
        hst.lists(
            hst.sampled_from(["a", "bb", "ccc", "null", "zz"]),
            min_size=1,
            max_size=4,
            unique=True,
        )
    )
    got_in = ps.read_segment_pandas(seg, where=("s", "in", in_list))
    assert got_in["s"].tolist() == pdf.loc[
        pdf["s"].isin(in_list), "s"
    ].tolist()
    got_ni = ps.read_segment_pandas(seg, where=("s", "not_in", in_list))
    assert got_ni["s"].tolist() == pdf.loc[
        ~pdf["s"].isin(in_list), "s"
    ].tolist()


def test_where_filter_on_nullable_numeric_column(tmp_path):
    # the residual-verify path over a nullable numeric column (regression:
    # pd.NA in the predicate mask raised TypeError)
    pdf = pd.DataFrame({"k": pd.array([1, None, 3, 1, None], dtype="Int64")})
    seg = str(tmp_path / "segnullnum")
    ps.write_segment_pandas(pdf, seg)
    out = ps.read_segment_pandas(seg, where=("k", "=", 1))
    assert out["k"].tolist() == [1, 1]
    out2 = ps.read_segment_pandas(seg, where=("k", ">=", 2))
    assert out2["k"].tolist() == [3]


def test_where_equality_on_mv_column_is_contains(tmp_path):
    pdf = pd.DataFrame({"m": [[1, 2], [3], [2, 4], [5]]})
    seg = str(tmp_path / "segmvwhere")
    ps.write_segment_pandas(pdf, seg)
    # scan path: any-element semantics (the reference's MV filter)
    out = ps.read_segment_pandas(seg, where=("m", "=", 2))
    assert [list(map(int, x)) for x in out["m"]] == [[1, 2], [2, 4]]
    # with an inverted index: same answer, index path
    seg2 = str(tmp_path / "segmvwhere2")
    ps.write_segment_pandas(pdf, seg2, inverted_index_columns=["m"])
    out2 = ps.read_segment_pandas(seg2, where=("m", "=", 2))
    assert [list(map(int, x)) for x in out2["m"]] == [[1, 2], [2, 4]]
    with pytest.raises(ValueError, match="any-element"):
        ps.read_segment_pandas(seg, where=("m", ">=", 2))


def test_corrupt_store_is_skipped_by_register_segment_table(spark, tmp_path):
    from hurricanedb_spark.sql.dialect import HurricaneSQL

    good = str(tmp_path / "good")
    ps.write_segment_pandas(pd.DataFrame({"a": [1, 2]}), good)
    bad = tmp_path / "bad" / "v3"
    bad.mkdir(parents=True)
    (bad / "metadata.properties").write_text("segment.name = broken\n")
    hdb = HurricaneSQL(spark)
    hdb.register_segment_table("t_mixed", str(tmp_path))
    assert hdb.sql("SELECT count(*) AS n FROM t_mixed").collect()[0]["n"] == 2


def test_conjunctive_where_pushdown(spark, tmp_path):
    """`where` as a list of conjuncts (round 6): each predicate resolves
    through its own index (inverted equality exact, range-index superset
    with residual verify, plain scan fallback) and the masks AND —
    results must equal pandas filtering on every combination."""
    rng = np.random.default_rng(21)
    n = 4000
    pdf = pd.DataFrame(
        {
            "k": rng.integers(0, 50, n).astype(np.int64),
            "cat": rng.choice(["a", "b", "c", "d"], n),
            "v": rng.normal(size=n),
        }
    )
    seg = str(tmp_path / "conj")
    ps.write_segment_pandas(
        pdf,
        seg,
        inverted_index_columns=["cat"],
        range_index_columns=["k"],
    )
    cases = [
        [("cat", "=", "b"), ("k", "between", (10, 30))],
        [("cat", "=", "b"), ("k", ">=", 40), ("v", "<=", 0.0)],
        [("k", "between", (0, 5)), ("cat", "=", "zzz")],  # empty
    ]
    for conj in cases:
        got = ps.read_segment_pandas(seg, columns=["k", "cat"], where=conj)
        mask = np.ones(n, dtype=bool)
        for col, op, val in conj:
            if op == "=":
                mask &= (pdf[col] == val).to_numpy()
            elif op == "between":
                mask &= pdf[col].between(*val).to_numpy()
            elif op == ">=":
                mask &= (pdf[col] >= val).to_numpy()
            elif op == "<=":
                mask &= (pdf[col] <= val).to_numpy()
        want = pdf.loc[mask, ["k", "cat"]].reset_index(drop=True)
        pd.testing.assert_frame_equal(got, want)
    # distributed path + segment pruning with a conjunct list
    df = ps.read_segments(
        spark, [seg], where=[("cat", "=", "b"), ("k", "between", (10, 30))]
    )
    assert df.count() == int(
        ((pdf["cat"] == "b") & pdf["k"].between(10, 30)).sum()
    )


def test_in_list_posting_union(spark, tmp_path):
    """IN-list / OR-of-equalities via inverted-index posting union
    (BitmapBasedFilterOperator / InPredicateEvaluator — round-7 item 5),
    plus NOT_IN complement, exactness flags, and null interaction."""
    rng = np.random.default_rng(44)
    pdf = pd.DataFrame(
        {
            "s": [f"u{i % 11}" for i in range(1200)],
            "v": np.arange(1200, dtype=np.int64),
        }
    )
    segs = []
    for i, part in enumerate(np.array_split(pdf, 3)):
        seg = str(tmp_path / f"in{i}")
        ps.write_segment_pandas(
            part.reset_index(drop=True), seg, inverted_index_columns=["s"]
        )
        segs.append(seg)
    meta = ps.read_segment_metadata(segs[0])
    psf = ps._read_psf(meta)
    # exact posting union, sorted + deduped
    docs, exact = ps.segment_filter_docs(meta, psf, ("s", "in", ["u3", "u7", "zz"]))
    assert exact
    part0 = ps.read_segment_pandas(segs[0], apply_valid_doc_ids=False)
    assert sorted(int(d) for d in docs) == [
        i for i, x in enumerate(part0["s"]) if x in ("u3", "u7")
    ]
    # NOT_IN is the complement
    nd, nexact = ps.segment_filter_docs(meta, psf, ("s", "not_in", ["u3", "u7"]))
    assert nexact
    assert sorted(int(d) for d in nd) == [
        i for i, x in enumerate(part0["s"]) if x not in ("u3", "u7")
    ]
    # distributed equivalence vs pandas
    got = ps.read_segments(spark, segs, where=("s", "in", ["u3", "u7"]))
    assert sorted(r["v"] for r in got.collect()) == sorted(
        pdf.loc[pdf["s"].isin(["u3", "u7"]), "v"].tolist()
    )
    got_n = ps.read_segments(spark, segs, where=("s", "not_in", ["u3", "u7"]))
    assert sorted(r["v"] for r in got_n.collect()) == sorted(
        pdf.loc[~pdf["s"].isin(["u3", "u7"]), "v"].tolist()
    )
    # no value present anywhere -> empty
    assert ps.read_segments(spark, segs, where=("s", "in", ["zz", "qq"])).count() == 0


def test_in_list_prunes_segments_via_minmax_and_bloom(spark, tmp_path):
    # three segments with disjoint value ranges; an IN-list touching only
    # one range keeps one segment
    segs = []
    for i in range(3):
        pdf = pd.DataFrame(
            {
                "k": np.arange(100, dtype=np.int64) + 1000 * i,
                "s": [f"g{i}_{j % 5}" for j in range(100)],
            }
        )
        seg = str(tmp_path / f"pr{i}")
        ps.write_segment_pandas(pdf, seg, bloom_filter_columns=["s"])
        segs.append(seg)
    kept = ps.prune_segments(segs, "k", "in", [5, 42])
    assert kept == [segs[0]]
    kept2 = ps.prune_segments(segs, "k", "in", [5, 1042, 9999])
    assert kept2 == [segs[0], segs[1]]
    # bloom: values absent from every segment's filter drop all
    kept3 = ps.prune_segments(segs, "s", "in", ["zz_1", "zz_2"])
    assert kept3 == []
    kept4 = ps.prune_segments(segs, "s", "in", ["g1_2", "zz"])
    assert kept4 == [segs[1]]
    # not_in never prunes on min/max
    assert ps.prune_segments(segs, "k", "not_in", [5]) == segs
    # end-to-end: two surviving segments decode
    got = ps.read_segments(spark, segs, where=("k", "in", [5, 1042]))
    rows, n = collect_decoding(got)
    assert n == 2
    assert sorted(r["k"] for r in rows) == [5, 1042]


def test_in_list_null_interaction(tmp_path):
    # nullable column: nulls are stored under the FieldSpec default and
    # must never match IN or NOT_IN (SQL three-valued logic) even when
    # the index answers the predicate
    pdf = pd.DataFrame({"s": ["a", None, "b", "null", None, "c"] * 20})
    seg = str(tmp_path / "null_in")
    ps.write_segment_pandas(pdf, seg, inverted_index_columns=["s"])
    meta = ps.read_segment_metadata(seg)
    psf = ps._read_psf(meta)
    # the 'null' STRING default collides with real nulls -> inexact
    _, exact = ps.segment_filter_docs(meta, psf, ("s", "in", ["null", "a"]))
    assert not exact
    got = ps.read_segment_pandas(seg, where=("s", "in", ["null", "a"]))
    # only the LITERAL 'null' rows and 'a' rows; true nulls excluded
    assert got["s"].tolist() == ["a", "null"] * 20
    got_n = ps.read_segment_pandas(seg, where=("s", "not_in", ["a", "b"]))
    assert got_n["s"].tolist() == ["null", "c"] * 20  # nulls excluded


def test_in_list_on_mv_column_any_element(tmp_path):
    pdf = pd.DataFrame({"mv": [["a", "b"], ["c"], ["b", "d"], ["e"]] * 10})
    seg = str(tmp_path / "mv_in")
    ps.write_segment_pandas(pdf, seg)
    got = ps.read_segment_pandas(seg, where=("mv", "in", ["b", "e"]))
    assert [list(x) for x in got["mv"]] == [["a", "b"], ["b", "d"], ["e"]] * 10


def test_roaring_serialize_dtype_guard():
    """Round-15 ADVICE: the ndarray fast path is restricted to integer
    dtypes — a float ndarray previously truncated toward zero in
    astype(uint32) (UB for negatives) instead of the two's-complement
    masking the scalar path applies; negative ids in plain lists also
    crashed numpy 2's unsigned asarray."""
    import numpy as np

    from hurricanedb_spark.sources.pinot_segment import roaring_serialize

    want = roaring_serialize([1, 2, -1])
    assert roaring_serialize(np.array([1.0, 2.0, -1.0])) == want
    assert roaring_serialize(np.array([1, 2, -1], dtype=np.int64)) == want
    assert roaring_serialize([-1, 1, 2]) == want


def test_sql_column_pruned_segment_decode(spark, sf_dir, tmp_path):
    """Round-16 (r15 verdict #5): a dialect query over a segment table
    decodes ONLY the referenced columns — mapInPandas is opaque to
    Catalyst, so the dialect threads the identifier set itself. A
    two-column aggregate over a store with a raw text column must not
    decode (or Arrow-ship) the text."""
    from hurricanedb_spark.catalog.tables import load_table
    from hurricanedb_spark.sql.dialect import HurricaneSQL

    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text", "n_chars"
    )
    store = str(tmp_path / "docs_store")
    ps.export_segments(docs.repartition(2), store, raw_columns={"text": "LZ4"})
    hq = HurricaneSQL(spark)
    hq.register_segment_table("docs_pruned", store)

    out = hq.sql(
        "SELECT lang, count(*) AS n, sum(n_chars) AS s "
        "FROM docs_pruned GROUP BY lang ORDER BY lang",
        default_limit=None,
    ).collect()
    assert hq.last_column_prune == ("docs_pruned", ["lang", "n_chars"])
    exp = {
        (r["lang"], r["n"], r["s"])
        for r in docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("s"))
        .collect()
    }
    assert {(r["lang"], r["n"], r["s"]) for r in out} == exp

    # pure COUNT(*): exactly one narrow fixed-width column is decoded
    n = hq.sql(
        "SELECT count(*) AS n FROM docs_pruned", default_limit=None
    ).collect()[0]["n"]
    assert n == docs.count()
    tbl, used = hq.last_column_prune
    assert tbl == "docs_pruned" and len(used) == 1 and used[0] != "text"

    # SELECT * keeps the full decode (no pruning fired)
    star = hq.sql("SELECT * FROM docs_pruned", default_limit=None)
    assert hq.last_column_prune is None
    assert set(star.columns) == {"doc_id", "lang", "text", "n_chars"}

    # WHERE on a non-projected column is still decoded (loud-fail guard:
    # every referenced identifier is included)
    got = hq.sql(
        "SELECT sum(n_chars) AS s FROM docs_pruned WHERE lang = 'en'",
        default_limit=None,
    ).collect()[0]["s"]
    exp_s = docs.filter("lang = 'en'").agg(F.sum("n_chars")).collect()[0][0]
    assert got == exp_s
    assert hq.last_column_prune == ("docs_pruned", ["lang", "n_chars"])

    # a column named only inside a block comment is not decoded
    got = hq.sql(
        "SELECT sum(n_chars) AS s /* text, doc_id */ FROM docs_pruned "
        "WHERE lang = 'en'",
        default_limit=None,
    ).collect()[0]["s"]
    assert got == exp_s
    assert hq.last_column_prune == ("docs_pruned", ["lang", "n_chars"])

    # a backquoted qualifier is a second mention of the table: the
    # rebind would leave it dangling, so the full decode is kept
    got = hq.sql(
        "SELECT sum(`docs_pruned`.n_chars) AS s FROM docs_pruned "
        "WHERE lang = 'en'",
        default_limit=None,
    ).collect()[0]["s"]
    assert got == exp_s
    assert hq.last_column_prune is None


def _assert_one_scan_stage(spark, df):
    """No Exchange below the decode, and the unknown size estimate that
    keeps a segment table from being broadcast."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    below = plan.split("MapInPandas", 1)[1].split("== Initial Plan ==")[0]
    assert "Exchange" not in below, plan
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    default = spark._jsparkSession.sessionState().conf().defaultSizeInBytes()
    assert size == default


def _seg11_frame(si: int, n: int = 60) -> pd.DataFrame:
    """Segment `si` of an 11-segment store: 'alpha' tags only in even
    segments, 'storm' bodies only in every third one, each at its own
    stride, so a bound decoded against the wrong segment changes rows."""
    return pd.DataFrame(
        {
            "id": np.arange(n, dtype=np.int64) + 1000 * si,
            "props": [
                '{"tag": "%s"}'
                % ("alpha" if si % 2 == 0 and i % (si + 2) == 0 else "beta")
                for i in range(n)
            ],
            "body": [
                f"storm {i}" if si % 3 == 0 and i % (si + 3) == 0 else f"calm {i}"
                for i in range(n)
            ],
        }
    )


@pytest.fixture(scope="module")
def seg11(tmp_path_factory):
    base = tmp_path_factory.mktemp("seg11")
    segs = []
    for si in range(11):
        seg = str(base / f"seg_{si:02d}")
        ps.write_segment_pandas(
            _seg11_frame(si), seg,
            json_index_columns=["props"], text_index_columns=["body"],
        )
        segs.append(seg)
    return str(base), segs


def test_segment_scan_is_one_stage_with_unknown_size(spark, seg11):
    _, segs = seg11
    _assert_one_scan_stage(spark, ps.read_segments(spark, segs[:3]))
    bounded = ps.read_segments(
        spark, segs[:3], bounds=[lambda s: [0, 1]], residual="id >= 0"
    )
    _assert_one_scan_stage(spark, bounded)
    assert decoded_segments(bounded) == 3


def test_more_segments_than_cores_share_capped_tasks(spark, seg11):
    """11 segments of 60 rows over defaultParallelism (8) tasks, in a
    session whose Arrow batch is 10 rows, so the store is over the task
    bound: every segment is decoded once, and each allowlist reaches its
    own segment."""
    from hurricanedb_spark.sql.dialect import (
        HurricaneSQL,
        rewrite_functions,
        rewrite_json_match,
    )

    store, segs = seg11
    spark = small_batches(spark, 10)
    par = spark.sparkContext.defaultParallelism
    assert par < len(segs)
    plain = ps.read_segments(spark, segs)
    assert plain.rdd.getNumPartitions() == par
    assert sorted(r["id"] for r in plain.collect()) == [
        1000 * si + i for si in range(11) for i in range(60)
    ]
    # segment k's bound admits only its doc k
    own = ps.read_segments(
        spark, segs, columns=["id"], bounds=[lambda s: [int(s[-2:])]]
    )
    assert sorted(r["id"] for r in own.collect()) == [1001 * k for k in range(11)]

    hq = HurricaneSQL(spark)
    hq.register_segment_table("seg11", store)
    cases = [
        ("id >= 0", None, 11),
        ("JSON_MATCH(props, '\"$.tag\" = ''alpha''')", "last_json_match_accel", 6),
        ("TEXT_MATCH(body, 'storm')", "last_text_match_accel", 4),
    ]
    for where, accel, decoded in cases:
        q = f"SELECT id FROM seg11 WHERE {where}"
        fast = hq.sql(q, default_limit=None)
        rows, n = collect_decoding(fast)
        got = sorted(r["id"] for r in rows)
        assert accel is None or getattr(hq, accel), where
        assert n == decoded, where
        slow = spark.sql(rewrite_functions(rewrite_json_match(q)))
        assert got == sorted(r["id"] for r in slow.collect()) and got, where
    # the pruned scan of the first case is cached: a repeat decodes none
    rows, n = collect_decoding(hq.sql("SELECT id FROM seg11 WHERE id >= 0", default_limit=None))
    assert n == 0 and len(rows) == 11 * 60
