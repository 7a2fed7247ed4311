"""Native v3 segment format reader/writer — the migration path.

A user of the reference engine has data in its on-disk segment format;
this module reads those segments straight into Spark DataFrames (and
exports DataFrames back out), so switching engines does not require
re-ingesting from source. Everything implements the on-disk layout the
reference defines in public code:

  - Directory layout (SegmentDirectoryPaths.java): a segment dir with
    `metadata.properties`, `creation.meta`, `index_map`, `columns.psf`
    either at the root or under a `v3/` subdirectory (v3 format).
  - Single-file index container (SingleFileIndexDirectory.java:72-73,
    160-190): `columns.psf` concatenates index buffers, each prefixed
    with the 8-byte big-endian magic marker 0xdeadbeefdeafbead; the
    text file `index_map` records `<column>.<indexName>.startOffset`
    and `<column>.<indexName>.size` (size INCLUDES the marker), index
    names per ColumnIndexType.java (dictionary, forward_index, ...).
  - Dictionaries (SegmentDictionaryCreator.java:73-260): values sorted
    ascending, big-endian fixed width — INT 4B, LONG 8B, FLOAT 4B,
    DOUBLE 8B; STRING either fixed width (max UTF-8 length, padded with
    '\\0' — V1Constants.Str.DEFAULT_STRING_PAD_CHAR) or the var-length
    layout (VarLengthValueWriter.java: ".vl;" magic + int version=1 +
    int numValues + int dataSectionOffset header, then numValues+1
    absolute int offsets followed by the concatenated UTF-8 bytes).
  - Unsorted SV forward index (FixedBitSVForwardIndexWriter.java:40-48,
    PinotDataBitSet.java): dictionary ids bit-packed MSB-first at
    bitsPerElement = ceil(log2(cardinality)) (min 1), big-endian bit
    order, file length = ceil(numDocs * bits / 8).
  - Sorted SV forward index (SingleValueSortedForwardIndexCreator.java):
    cardinality rows of two big-endian ints (minDocId, maxDocId),
    row-major.
  - metadata.properties (V1Constants.MetadataKeys, written by
    SegmentColumnarIndexCreator.java:757-924): segment.total.docs,
    segment.index.version, and per column `column.<name>.<key>` for
    cardinality, dataType, bitsPerElement, lengthOfEachEntry, isSorted,
    hasDictionary, isSingleValues, totalDocs, ...
  - creation.meta (SegmentIndexCreationDriverImpl.java:383-390): two
    big-endian longs, crc then creationTime.

  - Multi-value forward index (FixedBitMVForwardIndexWriter.java:36-47,
    77-96, 143-159): three sections — a chunk-offset header of
    numChunks big-endian ints (start value-index of each chunk's first
    doc, docsPerChunk = ceil(2048 / floor(totalValues / numDocs)),
    mirroring the writer's int division), a bitset of totalNumValues
    bits with a 1 at each doc's first value, then all dictionary ids
    bit-packed at bitsPerElement.
  - Null-value vector (NullValueVectorCreator, `.bitmap.nullvalue`):
    a serialized RoaringBitmap of null docIds in the PUBLIC portable
    format (little-endian; cookies 12346/12347, array / bitmap / run
    containers). Null docs carry FieldSpec's default values in the
    forward index (FieldSpec.java:49-57: Integer/Long.MIN_VALUE,
    Float/Double.NEGATIVE_INFINITY, "null").

  - Raw (noDictionary) SV forward index (BaseChunkSVForwardIndexWriter
    .java:128-160, VarByteChunkSVForwardIndexWriter.java:35-52):
    big-endian file header (version, numChunks, numDocsPerChunk,
    sizeOfEntry/lengthOfLongestEntry, and from version 2 totalDocs,
    compressionType, dataHeaderStart), then per-chunk absolute file
    offsets (int up to v2, long from v3), then compressed chunks.
    Fixed-byte chunks are packed big-endian values; var-byte chunks
    carry numDocsPerChunk int row offsets (0 for missing rows of the
    final partial chunk) followed by the row bytes. Compression per
    ChunkCompressionType.java: PASS_THROUGH(0), SNAPPY(1) raw block,
    ZSTANDARD(2) frame, LZ4(3) raw block, LZ4_LENGTH_PREFIXED(4) =
    little-endian decompressed-length int + raw block (lz4-java's
    LZ4CompressorWithLength). Snappy/zstd/lz4 route through pyarrow's
    bundled codecs; a pure-Python LZ4 block decoder covers the
    unknown-decompressed-size case (var-byte LZ4 chunks).

Scope: dictionary-encoded SV and MV columns plus raw (noDictionary) SV
columns of INT / LONG / FLOAT / DOUBLE / STRING, with null-value
vectors. Raw MV forward indexes are out of scope, raising a clear
UnsupportedSegmentError naming the column; auxiliary index entries in
`index_map` (inverted, range, bloom, text, ...) are simply skipped —
they are redundant acceleration structures, Spark plans its own access
paths.

Scale design: a segment is the unit of work, and a query's segments
share min(#segments, cores, ceil(rows / Arrow batch size)) tasks, as the
reference's servers share a bounded pool (CombineOperatorUtils), less
the tasks that would decode under one Arrow batch each (`map_segments`):
a store under one batch of rows is one task, and its aggregates run in
one job with no exchange. `read_segments` numbers the
surviving segments and each task decodes the ones whose numbers it
holds inside mapInPandas (Arrow-batched, numpy-vectorized bit-unpack);
column pruning happens at the decoder (only requested columns are
sliced out of columns.psf). `export_segments` writes one segment per
Spark partition, shuffle-free.

A reference server loads a segment once and answers later queries from
it. Here the dialect's column-pruned and star-tree scans play that part
(`session_view`): each is decoded by the first query that reads it into
Spark's in-memory columnar cache, per session, projection and segment
version, and a rewritten segment is decoded again on the next query.
Spark's storage memory bounds the cache; a block that does not fit is
decoded again when read. The registered view and the index-accelerated
scans decode on every query.
"""

from __future__ import annotations

import os
import re
import struct
import threading
import time
import uuid
import weakref
import zlib
from collections import OrderedDict
from dataclasses import dataclass, field

MAGIC_MARKER = 0xDEADBEEFDEAFBEAD
V3_SUBDIR = "v3"
INDEX_FILE = "columns.psf"
INDEX_MAP_FILE = "index_map"
METADATA_FILE = "metadata.properties"
CREATION_META_FILE = "creation.meta"
VALID_DOC_IDS_FILE = "validdocids.bitmap.snapshot"
PAD_CHAR = b"\x00"
VAR_LENGTH_MAGIC = b".vl;"

_FIXED_WIDTH = {"INT": 4, "LONG": 8, "FLOAT": 4, "DOUBLE": 8}
_STRUCT_FMT = {"INT": ">i", "LONG": ">q", "FLOAT": ">f", "DOUBLE": ">d"}
_NP_BE = {"INT": ">i4", "LONG": ">i8", "FLOAT": ">f4", "DOUBLE": ">f8"}
_SPARK_TO_PINOT = {
    "int": "INT",
    "integer": "INT",
    "bigint": "LONG",
    "long": "LONG",
    "float": "FLOAT",
    "double": "DOUBLE",
    "string": "STRING",
}
_PINOT_TO_SPARK = {
    "INT": "int",
    "LONG": "bigint",
    "FLOAT": "float",
    "DOUBLE": "double",
    "STRING": "string",
}


class UnsupportedSegmentError(NotImplementedError):
    """Segment uses a layout outside this reader's scope (MV column, raw
    no-dictionary forward index, unknown data type)."""


def bits_per_element(cardinality: int) -> int:
    """PinotDataBitSet.getNumBitsPerValue: bits to encode maxValue =
    cardinality - 1, minimum 1."""
    max_value = cardinality - 1
    return max(max_value.bit_length(), 1)


# FieldSpec.java:49-57 — dimension default null values baked into the
# forward index for null docs (the null docIds live in the null vector)
NULL_DEFAULTS = {
    "INT": -(2**31),
    "LONG": -(2**63),
    "FLOAT": float("-inf"),
    "DOUBLE": float("-inf"),
    "STRING": "null",
}


# ---------------------------------------------------------------------------
# RoaringBitmap portable serialization (public spec; little-endian)

_ROARING_COOKIE_NO_RUN = 12346
_ROARING_COOKIE_RUN = 12347
_ROARING_NO_OFFSET_THRESHOLD = 4  # with-run streams omit offsets below this


def roaring_serialize(values, run_optimize: bool = True) -> bytes:
    """Sorted distinct uint32 values -> portable RoaringBitmap bytes,
    byte-identical to what the reference writes (round-13, pinned by
    the real-jar golden against RoaringBitmap-1.3.0): the reference
    builds bitmaps through RoaringBitmapWriter.writer() whose default
    runCompress flushes every container through runOptimize()
    (OnHeapBitmapInvertedIndexCreator.java:41-45), so dense data
    serializes RUN containers under cookie 12347 — the previous
    no-run-only writer was readable by the real library but not
    byte-identical to the reference's files. Per-container runOptimize
    rule (RoaringBitmap Array/BitmapContainer.runOptimize): convert to
    a run container iff its serialized size 2 + 4*numRuns is strictly
    smaller than the current form's (2*cardinality for arrays, 8192
    for bitmaps). With-run streams write the run-flag bitset after the
    cookie and omit the offset table below 4 containers
    (NO_OFFSET_THRESHOLD).

    `run_optimize=False` reproduces plain RoaringBitmap.add + serialize
    with NO run conversion — the reference's IdSet path
    (RoaringBitmapIdSet.java builds by bare adds, never through the
    writer wizard), which always emits the no-run cookie."""
    import numpy as np

    if isinstance(values, np.ndarray) and values.dtype.kind in "iu":
        # vectorized path (no per-value list()): int dtypes wrap to
        # their uint32 images like the python-int path's & 0xFFFFFFFF.
        # Restricted to integer dtypes (round-15 ADVICE): a float array
        # would truncate toward zero here (UB for negatives) instead of
        # the two's-complement masking the list path applies.
        vals = np.unique(
            values if values.dtype == np.uint32
            else values.astype(np.uint32)
        )
    else:
        arr = np.asarray(list(values))
        if arr.dtype.kind in "iu":
            vals = np.unique(arr.astype(np.uint32))  # two's-complement wrap
        else:
            # huge/object/float inputs: per-value masking (exact ints
            # only — float truncation here matches int()'s toward-zero)
            vals = np.unique(
                np.asarray(
                    [int(v) & 0xFFFFFFFF for v in values], dtype=np.uint32
                )
            )
    keys_all = (vals >> np.uint32(16)).astype(np.uint16)
    lows_all = (vals & np.uint32(0xFFFF)).astype(np.uint16)
    keys = np.unique(keys_all)
    size = len(keys)
    desc, containers, run_flags = [], [], []
    for k in keys:
        lows = lows_all[keys_all == k].astype(np.uint32)
        card = len(lows)
        desc.append(struct.pack("<HH", int(k), card - 1))
        # run boundaries: starts where the gap to the previous value > 1
        gaps = np.flatnonzero(np.diff(lows) > 1)
        num_runs = 1 + len(gaps) if card else 0
        run_size = 2 + 4 * num_runs
        current_size = 2 * card if card <= 4096 else 8192
        if run_optimize and run_size < current_size:
            starts = np.concatenate(([0], gaps + 1))
            ends = np.concatenate((gaps, [card - 1]))
            runs = np.empty(2 * num_runs, dtype="<u2")
            runs[0::2] = lows[starts]
            runs[1::2] = lows[ends] - lows[starts]  # stored as length-1
            containers.append(struct.pack("<H", num_runs) + runs.tobytes())
            run_flags.append(1)
        elif card <= 4096:
            containers.append(lows.astype("<u2").tobytes())
            run_flags.append(0)
        else:
            bitmap = np.zeros(1024, dtype="<u8")
            np.bitwise_or.at(
                bitmap,
                lows >> np.uint32(6),
                np.uint64(1) << (lows & np.uint32(63)).astype(np.uint64),
            )
            containers.append(bitmap.tobytes())
            run_flags.append(0)
    if any(run_flags):
        # unsigned pack (round-13 ADVICE): for size > 32768 the cookie
        # exceeds INT32_MAX (Java wraps negative); '<i' raises instead
        header = struct.pack(
            "<I", (_ROARING_COOKIE_RUN | ((size - 1) << 16)) & 0xFFFFFFFF
        ) + np.packbits(
            np.asarray(run_flags, dtype=np.uint8), bitorder="little"
        ).tobytes()
        has_offsets = size >= _ROARING_NO_OFFSET_THRESHOLD
    else:
        header = struct.pack("<ii", _ROARING_COOKIE_NO_RUN, size)
        has_offsets = True
    offset_pos = len(header) + 4 * size + (4 * size if has_offsets else 0)
    offsets, pos = [], offset_pos
    if has_offsets:
        for c in containers:
            offsets.append(struct.pack("<i", pos))
            pos += len(c)
    return header + b"".join(desc) + b"".join(offsets) + b"".join(containers)


def roaring_deserialize(buf: bytes):
    """Portable RoaringBitmap bytes -> sorted numpy uint32 array.
    Handles both cookies (12346 no-run / 12347 with run containers)."""
    import numpy as np

    # unsigned decode (round-13 ADVICE): real-library streams with
    # ≥32769 containers carry a cookie past INT32_MAX (Java wrote it
    # wrapped negative); a signed read would yield a negative size
    (cookie,) = struct.unpack_from("<I", buf, 0)
    if (cookie & 0xFFFF) == _ROARING_COOKIE_RUN:
        size = ((cookie >> 16) & 0xFFFF) + 1
        run_flag_bytes = (size + 7) // 8
        run_flags = np.unpackbits(
            np.frombuffer(buf, dtype=np.uint8, count=run_flag_bytes, offset=4),
            bitorder="little",
        )[:size]
        pos = 4 + run_flag_bytes
        has_offsets = size >= _ROARING_NO_OFFSET_THRESHOLD
    elif cookie == _ROARING_COOKIE_NO_RUN:
        (size,) = struct.unpack_from("<i", buf, 4)
        run_flags = [0] * size
        pos = 8
        has_offsets = True
    else:
        raise ValueError(f"not a RoaringBitmap stream (cookie {cookie})")
    desc = struct.unpack_from(f"<{2 * size}H", buf, pos)
    pos += 4 * size
    if has_offsets:
        pos += 4 * size  # trust sequential layout; offsets are redundant
    out = []
    for i in range(size):
        key, card = desc[2 * i], desc[2 * i + 1] + 1
        base = np.uint32(key) << np.uint32(16)
        if run_flags[i]:
            (n_runs,) = struct.unpack_from("<H", buf, pos)
            pos += 2
            runs = np.frombuffer(
                buf, dtype="<u2", count=2 * n_runs, offset=pos
            ).astype(np.uint32)
            pos += 4 * n_runs
            if n_runs:
                # vectorized run expansion (round-13: the per-run
                # np.arange loop was O(n_runs) python-level calls —
                # measurable on many-run postings): value = start of
                # its run + offset within the run
                starts, counts = runs[0::2], runs[1::2] + np.uint32(1)
                ends_cum = np.cumsum(counts, dtype=np.uint32)
                idx = np.arange(int(ends_cum[-1]), dtype=np.uint32)
                within = idx - np.repeat(ends_cum - counts, counts)
                lows = np.repeat(starts, counts) + within
            else:
                lows = np.empty(0, dtype=np.uint32)
        elif card <= 4096:
            lows = np.frombuffer(buf, dtype="<u2", count=card, offset=pos).astype(
                np.uint32
            )
            pos += 2 * card
        else:
            bitmap = np.frombuffer(buf, dtype="<u8", count=1024, offset=pos)
            pos += 8192
            bits = np.unpackbits(
                bitmap.view(np.uint8), bitorder="little"
            )
            lows = np.nonzero(bits)[0].astype(np.uint32)
        out.append(base + lows)
    if not out:
        return np.empty(0, dtype=np.uint32)
    return np.concatenate(out)


# ---------------------------------------------------------------------------
# metadata.properties


def _props_escape(v: str) -> str:
    return (
        v.replace("\\", "\\\\").replace(":", "\\:").replace("=", "\\=")
    )


def _props_unescape(v: str) -> str:
    out = []
    i = 0
    while i < len(v):
        if v[i] == "\\" and i + 1 < len(v):
            nxt = v[i + 1]
            if nxt == "u" and i + 5 < len(v):
                out.append(chr(int(v[i + 2 : i + 6], 16)))
                i += 6
                continue
            out.append({"t": "\t", "n": "\n", "r": "\r"}.get(nxt, nxt))
            i += 2
        else:
            out.append(v[i])
            i += 1
    return "".join(out)


def parse_properties(text: str) -> dict[str, list[str]]:
    """Minimal java-properties parse (key = value lines, '#'/'!'
    comments, repeated keys accumulate — commons-configuration writes
    list properties as repeated keys)."""
    props: dict[str, list[str]] = {}
    for raw in text.splitlines():
        line = raw.strip()
        if not line or line.startswith(("#", "!")):
            continue
        for i, ch in enumerate(line):
            if ch in "=:" and (i == 0 or line[i - 1] != "\\"):
                key = line[:i].strip()
                val = line[i + 1 :].strip()
                break
        else:
            key, val = line, ""
        props.setdefault(_props_unescape(key), []).append(_props_unescape(val))
    return props


def _prop(props: dict[str, list[str]], key: str, default: str | None = None) -> str:
    vals = props.get(key)
    if not vals:
        if default is not None:
            return default
        raise KeyError(f"metadata.properties missing key {key!r}")
    return vals[0]


# ---------------------------------------------------------------------------
# column + segment descriptors


@dataclass
class ColumnMeta:
    name: str
    data_type: str  # INT | LONG | FLOAT | DOUBLE | STRING
    cardinality: int
    total_docs: int
    bits_per_element: int
    dictionary_element_size: int
    is_sorted: bool
    has_dictionary: bool
    is_single_value: bool
    total_entries: int = 0  # totalNumberOfEntries (== total MV values)
    min_value: str | None = None  # raw metadata strings; typed via data_type
    max_value: str | None = None
    partition_function: str | None = None
    num_partitions: int = 0
    partition_values: tuple[int, ...] = ()


@dataclass
class SegmentMeta:
    segment_dir: str  # dir actually holding the files (root or v3/)
    total_docs: int
    columns: dict[str, ColumnMeta]
    index_map: dict[tuple[str, str], tuple[int, int]]  # (col, idx) -> (start, size)
    props: dict[str, list[str]] = field(default_factory=dict)


# v1/v2 directory layout: one file per index (V1Constants.Indexes
# extensions), no single-file container, no magic markers
_V1_INDEX_FILES = {
    "dictionary": (".dict",),
    "forward_index": (
        ".sv.sorted.fwd",
        ".sv.unsorted.fwd",
        ".sv.raw.fwd",
        ".mv.fwd",
        ".mv.raw.fwd",
    ),
    "inverted_index": (".bitmap.inv",),
    "range_index": (".bitmap.range",),
    "bloom_filter": (".bloom",),
    "nullvalue_vector": (".bitmap.nullvalue",),
    "json_index": (".json.idx",),
    "text_index": (".nativetext.idx",),
    "fst_index": (".lucene.fst",),
    "h3_index": (".h3.idx",),
}


def _resolve_dir(segment_dir: str) -> str:
    v3 = os.path.join(segment_dir, V3_SUBDIR)
    if os.path.isfile(os.path.join(v3, METADATA_FILE)):
        return v3
    if os.path.isfile(os.path.join(segment_dir, METADATA_FILE)):
        return segment_dir
    raise FileNotFoundError(
        f"no {METADATA_FILE} at {segment_dir} or {segment_dir}/{V3_SUBDIR} — "
        "not a segment directory"
    )


# read_segment_metadata's cache: resolved dir -> (version, SegmentMeta),
# least recently used first. Every process that reads segments (the
# driver and each reused Python worker) keeps its own.
_META_CACHE: OrderedDict[str, tuple[tuple, SegmentMeta]] = OrderedDict()
_META_CACHE_SIZE = 1024
_META_CACHE_LOCK = threading.Lock()


def _metadata_version(d: str) -> tuple:
    """(inode, size, mtime_ns) of the files a SegmentMeta is parsed
    from: metadata.properties, plus index_map, or in the v1/v2 layout
    the directory itself, whose entries are the per-index files."""
    stats = [os.stat(os.path.join(d, METADATA_FILE))]
    try:
        stats.append(os.stat(os.path.join(d, INDEX_MAP_FILE)))
    except FileNotFoundError:
        stats.append(os.stat(d))
    return tuple((s.st_ino, s.st_size, s.st_mtime_ns) for s in stats)


def read_segment_metadata(segment_dir: str) -> SegmentMeta:
    """The segment's parsed metadata. Cached per resolved directory
    and re-parsed when the version of its files changes, so a segment
    rewritten in place is seen on its next read. Callers share the
    returned object and must not modify it."""
    d = _resolve_dir(segment_dir)
    version = _metadata_version(d)
    with _META_CACHE_LOCK:
        hit = _META_CACHE.get(d)
        if hit is not None and hit[0] == version:
            _META_CACHE.move_to_end(d)
            return hit[1]
    meta = _parse_segment_metadata(d)
    with _META_CACHE_LOCK:
        _META_CACHE[d] = (version, meta)
        _META_CACHE.move_to_end(d)
        if len(_META_CACHE) > _META_CACHE_SIZE:
            _META_CACHE.popitem(last=False)
    return meta


def _parse_segment_metadata(d: str) -> SegmentMeta:
    with open(os.path.join(d, METADATA_FILE), encoding="utf-8") as f:
        props = parse_properties(f.read())
    total_docs = int(_prop(props, "segment.total.docs"))
    columns: dict[str, ColumnMeta] = {}
    for key in props:
        if key.startswith("column.") and key.endswith(".cardinality"):
            name = key[len("column.") : -len(".cardinality")]
            g = lambda k, dflt=None: _prop(props, f"column.{name}.{k}", dflt)  # noqa: E731
            columns[name] = ColumnMeta(
                name=name,
                data_type=g("dataType"),
                cardinality=int(g("cardinality")),
                total_docs=int(g("totalDocs", str(total_docs))),
                bits_per_element=int(g("bitsPerElement", "0")),
                dictionary_element_size=int(g("lengthOfEachEntry", "0")),
                is_sorted=g("isSorted", "false").lower() == "true",
                has_dictionary=g("hasDictionary", "true").lower() == "true",
                is_single_value=g("isSingleValues", "true").lower() == "true",
                total_entries=int(g("totalNumberOfEntries", "0")),
                min_value=(props.get(f"column.{name}.minValue") or [None])[0],
                max_value=(props.get(f"column.{name}.maxValue") or [None])[0],
                partition_function=(
                    props.get(f"column.{name}.partitionFunction") or [None]
                )[0],
                num_partitions=int(
                    (props.get(f"column.{name}.numPartitions") or ["0"])[0]
                ),
                partition_values=tuple(
                    int(x)
                    for x in (props.get(f"column.{name}.partitionValues") or [""])[
                        0
                    ].split(",")
                    if x.strip()
                ),
            )
    index_map: dict[tuple[str, str], tuple[int, int] | str] = {}
    if os.path.isfile(os.path.join(d, INDEX_MAP_FILE)):
        entries: dict[tuple[str, str], dict[str, int]] = {}
        with open(os.path.join(d, INDEX_MAP_FILE), encoding="utf-8") as f:
            for key, vals in parse_properties(f.read()).items():
                # parse from the back: <column>.<indexName>.<startOffset|size>
                # (ColumnIndexUtils.parseIndexMapKeys — column names may contain '.')
                col_idx, _, prop_name = key.rpartition(".")
                col, _, idx_name = col_idx.rpartition(".")
                entries.setdefault((col, idx_name), {})[prop_name] = int(vals[0])
        for (col, idx_name), kv in entries.items():
            if "startOffset" in kv and "size" in kv:
                index_map[(col, idx_name)] = (kv["startOffset"], kv["size"])
    else:
        # v1/v2 layout: per-index files named <column><extension>
        for col in columns:
            for idx_name, exts in _V1_INDEX_FILES.items():
                for ext in exts:
                    p = os.path.join(d, col + ext)
                    if os.path.isfile(p):
                        index_map[(col, idx_name)] = p
                        break
    return SegmentMeta(
        segment_dir=d,
        total_docs=total_docs,
        columns=columns,
        index_map=index_map,
        props=props,
    )


# ---------------------------------------------------------------------------
# reading


def _read_psf(meta: SegmentMeta) -> bytes:
    """columns.psf bytes (v3), or b'' for the v1/v2 per-file layout."""
    path = os.path.join(meta.segment_dir, INDEX_FILE)
    if not os.path.isfile(path):
        return b""
    with open(path, "rb") as f:
        return f.read()


def _index_buffer(meta: SegmentMeta, psf: bytes, col: str, idx: str) -> bytes:
    try:
        entry = meta.index_map[(col, idx)]
    except KeyError:
        raise UnsupportedSegmentError(
            f"segment has no {idx} entry for column {col!r} in index_map"
        ) from None
    if isinstance(entry, str):  # v1/v2 layout: standalone file, no marker
        with open(entry, "rb") as f:
            return f.read()
    start, size = entry
    marker = struct.unpack_from(">Q", psf, start)[0]
    if marker != MAGIC_MARKER:
        raise ValueError(
            f"missing magic marker for {col}.{idx} at offset {start} "
            f"(got {marker:#x}) — corrupt columns.psf"
        )
    return psf[start + 8 : start + size]


def _decode_dictionary(buf: bytes, cm: ColumnMeta):
    """Dictionary buffer -> numpy array (numeric) or list[str]."""
    import numpy as np

    if cm.data_type in _FIXED_WIDTH:
        arr = np.frombuffer(buf, dtype=_NP_BE[cm.data_type], count=cm.cardinality)
        return arr.astype(arr.dtype.newbyteorder("="))  # BE -> native for pandas
    if cm.data_type == "STRING":
        if buf[:4] == VAR_LENGTH_MAGIC:
            version, num_values, data_off = struct.unpack_from(">iii", buf, 4)
            if version != 1:
                raise UnsupportedSegmentError(
                    f"var-length dictionary version {version} for {cm.name}"
                )
            offsets = struct.unpack_from(f">{num_values + 1}i", buf, data_off)
            return [
                buf[offsets[i] : offsets[i + 1]].decode("utf-8")
                for i in range(num_values)
            ]
        w = cm.dictionary_element_size
        return [
            buf[i * w : (i + 1) * w].rstrip(PAD_CHAR).decode("utf-8")
            for i in range(cm.cardinality)
        ]
    raise UnsupportedSegmentError(
        f"data type {cm.data_type} for column {cm.name} is outside reader scope"
    )


def _unpack_dict_ids(buf: bytes, num_docs: int, bits: int):
    """Vectorized fixed-bit unpack (PinotDataBitSet bit order: MSB-first
    within big-endian bytes)."""
    import numpy as np

    raw = np.frombuffer(buf, dtype=np.uint8)
    bit_mat = np.unpackbits(raw)[: num_docs * bits].reshape(num_docs, bits)
    weights = (1 << np.arange(bits - 1, -1, -1, dtype=np.uint64)).astype(np.uint64)
    return (bit_mat.astype(np.uint64) * weights).sum(axis=1).astype(np.int64)


def _decode_sorted_fwd(buf: bytes, cm: ColumnMeta):
    """Sorted fwd index: (minDocId, maxDocId) per dictId -> doc->dictId
    via run expansion."""
    import numpy as np

    pairs = np.frombuffer(buf, dtype=">i4", count=cm.cardinality * 2).reshape(
        cm.cardinality, 2
    )
    runs = pairs[:, 1] - pairs[:, 0] + 1
    return np.repeat(np.arange(cm.cardinality, dtype=np.int64), runs)


# ---------------------------------------------------------------------------
# raw (noDictionary) chunk-based SV forward index

_COMPRESSION = {0: "PASS_THROUGH", 1: "SNAPPY", 2: "ZSTANDARD", 3: "LZ4", 4: "LZ4_LENGTH_PREFIXED"}
_COMPRESSION_IDS = {v: k for k, v in _COMPRESSION.items()}


def lz4_block_decompress(src: bytes, max_size: int | None = None) -> bytes:
    """Pure-Python LZ4 block decoder (public block format: token byte =
    literal-length nibble | match-length nibble, LSIC length extension,
    2-byte little-endian match offsets). Used when the exact
    decompressed size is unknown (var-byte LZ4 chunks); cold path."""
    out = bytearray()
    i = 0
    n = len(src)
    while i < n:
        token = src[i]
        i += 1
        lit_len = token >> 4
        if lit_len == 15:
            while True:
                b = src[i]
                i += 1
                lit_len += b
                if b != 255:
                    break
        out += src[i : i + lit_len]
        i += lit_len
        if i >= n:
            break  # last sequence has no match
        offset = src[i] | (src[i + 1] << 8)
        i += 2
        if offset == 0:
            raise ValueError("corrupt LZ4 block: zero match offset")
        match_len = (token & 0xF) + 4
        if (token & 0xF) == 15:
            while True:
                b = src[i]
                i += 1
                match_len += b - 0  # LSIC continuation
                if b != 255:
                    break
        start = len(out) - offset
        if start < 0:
            raise ValueError("corrupt LZ4 block: offset before start")
        for _ in range(match_len):  # may overlap; byte-by-byte copy
            out.append(out[len(out) - offset])
        if max_size is not None and len(out) > max_size:
            raise ValueError("LZ4 block exceeded expected size")
    return bytes(out)


def _zstd_content_size(data: bytes) -> int | None:
    """Frame content size from a zstd frame header (public RFC 8878
    layout); None when the frame omits it."""
    (magic,) = struct.unpack_from("<I", data, 0)
    if magic != 0xFD2FB528:
        raise ValueError(f"not a zstd frame (magic {magic:#x})")
    fhd = data[4]
    fcs_flag = fhd >> 6
    single_segment = (fhd >> 5) & 1
    did_flag = fhd & 3
    pos = 5 + (0 if single_segment else 1) + (0, 1, 2, 4)[did_flag]
    if fcs_flag == 0:
        return data[pos] if single_segment else None
    if fcs_flag == 1:
        return struct.unpack_from("<H", data, pos)[0] + 256
    if fcs_flag == 2:
        return struct.unpack_from("<I", data, pos)[0]
    return struct.unpack_from("<Q", data, pos)[0]


def _decompress_chunk(
    data: bytes, compression: str, decompressed_size: int | None
) -> bytes:
    if compression == "PASS_THROUGH":
        return data
    if compression == "SNAPPY":
        import pyarrow as pa

        if decompressed_size is None:
            # snappy raw blocks embed the uncompressed length as a varint
            size, shift, i = 0, 0, 0
            while True:
                b = data[i]
                size |= (b & 0x7F) << shift
                i += 1
                shift += 7
                if not b & 0x80:
                    break
            decompressed_size = size
        return bytes(pa.Codec("snappy").decompress(data, decompressed_size))
    if compression == "ZSTANDARD":
        import pyarrow as pa

        if decompressed_size is None:
            decompressed_size = _zstd_content_size(data)
            if decompressed_size is None:
                raise UnsupportedSegmentError(
                    "zstd chunk frame omits the content size and the "
                    "chunk's decompressed size is unknown"
                )
        return bytes(pa.Codec("zstd").decompress(data, decompressed_size))
    if compression == "LZ4":
        if decompressed_size is not None:
            import pyarrow as pa

            return bytes(pa.Codec("lz4_raw").decompress(data, decompressed_size))
        return lz4_block_decompress(data)
    if compression == "LZ4_LENGTH_PREFIXED":
        # lz4-java LZ4CompressorWithLength: little-endian length prefix
        (size,) = struct.unpack_from("<i", data, 0)
        import pyarrow as pa

        return bytes(pa.Codec("lz4_raw").decompress(data[4:], size))
    raise UnsupportedSegmentError(f"unknown chunk compression {compression!r}")


def _compress_chunk(data: bytes, compression: str) -> bytes:
    if compression == "PASS_THROUGH":
        return data
    import pyarrow as pa

    if compression == "SNAPPY":
        return bytes(pa.Codec("snappy").compress(data))
    if compression == "ZSTANDARD":
        # level 3 = zstd-jni's default, the reference's Zstd.compress
        # call (ZstandardCompressor.java:42); pyarrow's default is 1 —
        # with 3 the frames are byte-identical to the real jar
        # (reallib_segment_golden fixture), not merely cross-readable
        return bytes(pa.Codec("zstd", compression_level=3).compress(data))
    if compression in ("LZ4", "LZ4_LENGTH_PREFIXED"):
        block = bytes(pa.Codec("lz4_raw").compress(data))
        if compression == "LZ4_LENGTH_PREFIXED":
            return struct.pack("<i", len(data)) + block
        return block
    raise UnsupportedSegmentError(f"unknown chunk compression {compression!r}")


def _parse_chunk_container(buf: bytes):
    """File header + chunk offsets -> (version, num_docs_per_chunk,
    size_of_entry, total_docs, compression, [(start, end) per chunk])."""
    version, num_chunks, docs_per_chunk, size_of_entry = struct.unpack_from(
        ">iiii", buf, 0
    )
    if version < 2:
        raise UnsupportedSegmentError(f"raw chunk container version {version} < 2")
    total_docs, comp_id, data_header_start = struct.unpack_from(">iii", buf, 16)
    comp = _COMPRESSION.get(comp_id)
    if comp is None:
        raise UnsupportedSegmentError(f"unknown compression id {comp_id}")
    off_fmt = ">i" if version <= 2 else ">q"
    width = 4 if version <= 2 else 8
    offsets = [
        struct.unpack_from(off_fmt, buf, data_header_start + i * width)[0]
        for i in range(num_chunks)
    ]
    bounds = [
        (offsets[i], offsets[i + 1] if i + 1 < num_chunks else len(buf))
        for i in range(num_chunks)
    ]
    return version, docs_per_chunk, size_of_entry, total_docs, comp, bounds


def _iter_var_byte_entries(buf: bytes, num_docs: int):
    """Yield per-doc value bytes from a v2/v3 var-byte chunk container
    (VarByteChunkSVForwardIndexWriter layout: each chunk starts with
    numDocsPerChunk big-endian int row offsets, rows packed after)."""
    _, docs_per_chunk, _, total_docs, comp, bounds = _parse_chunk_container(buf)
    remaining = total_docs or num_docs
    for start, end in bounds:
        docs_here = min(docs_per_chunk, remaining)
        chunk = _decompress_chunk(buf[start:end], comp, None)
        row_offsets = struct.unpack_from(f">{docs_per_chunk}i", chunk, 0)
        for j in range(docs_here):
            lo = row_offsets[j]
            hi = row_offsets[j + 1] if j + 1 < docs_here else len(chunk)
            yield chunk[lo:hi]
        remaining -= docs_here


def _iter_var_byte_entries_v4(buf: bytes):
    """Yield per-doc value bytes from a V4 var-byte container
    (VarByteChunkSVForwardIndexWriterV4.java): big-endian header
    [version, targetChunkSize, compressionId, chunksStart], then 8-byte
    LITTLE-endian metadata pairs (docIdOffset | hugeFlag<<31, chunkOffset)
    up to chunksStart, then compressed chunks. A regular decompressed
    chunk is LE [numDocs][offset_0..offset_{n-1}][bytes] with value i in
    [offset_i, offset_{i+1}) (last value to chunk end); a huge chunk
    (metadata MSB set) is one value's raw bytes with no header."""
    version, _target, comp_id, chunks_start = struct.unpack_from(">iiii", buf, 0)
    if version < 4:
        raise ValueError(f"not a V4 container (version {version})")
    comp = _COMPRESSION.get(comp_id)
    if comp is None:
        raise UnsupportedSegmentError(f"unknown compression id {comp_id}")
    n_chunks = (chunks_start - 16) // 8
    metas = [
        struct.unpack_from("<iI", buf, 16 + 8 * i) for i in range(n_chunks)
    ]
    for i, (doc_id_word, chunk_off) in enumerate(metas):
        huge = bool(doc_id_word & -0x80000000)
        start = chunks_start + chunk_off
        end = (
            chunks_start + metas[i + 1][1] if i + 1 < n_chunks else len(buf)
        )
        chunk = _decompress_chunk(buf[start:end], comp, None)
        if huge:
            yield chunk
            continue
        (n_docs,) = struct.unpack_from("<i", chunk, 0)
        offsets = struct.unpack_from(f"<{n_docs}i", chunk, 4)
        for j in range(n_docs):
            hi = offsets[j + 1] if j + 1 < n_docs else len(chunk)
            yield chunk[offsets[j] : hi]


def _var_byte_chunk_bounds(buf: bytes, num_docs: int):
    """Vectorized counterpart of _iter_var_byte_entries: yield
    (decompressed chunk, int32 slice offsets with a len(chunk) sentinel)
    per chunk — value j of the chunk lives in chunk[off[j]:off[j+1]].
    Byte-for-byte the same slices the iterator yields (differential-
    tested); the padding offsets of a partial final chunk are dropped
    before the sentinel is appended."""
    import numpy as np

    _, docs_per_chunk, _, total_docs, comp, bounds = _parse_chunk_container(buf)
    remaining = total_docs or num_docs
    for start, end in bounds:
        docs_here = min(docs_per_chunk, remaining)
        chunk = _decompress_chunk(buf[start:end], comp, None)
        offs = np.empty(docs_here + 1, dtype="=i4")
        offs[:docs_here] = np.frombuffer(
            chunk, dtype=">i4", count=docs_per_chunk
        )[:docs_here]
        offs[docs_here] = len(chunk)
        yield chunk, offs
        remaining -= docs_here


def _var_byte_chunk_bounds_v4(buf: bytes):
    """Vectorized counterpart of _iter_var_byte_entries_v4: yield
    (decompressed chunk, int32 slice offsets with sentinel); a huge
    chunk (metadata MSB set) is one value spanning the whole chunk."""
    import numpy as np

    version, _target, comp_id, chunks_start = struct.unpack_from(">iiii", buf, 0)
    if version < 4:
        raise ValueError(f"not a V4 container (version {version})")
    comp = _COMPRESSION.get(comp_id)
    if comp is None:
        raise UnsupportedSegmentError(f"unknown compression id {comp_id}")
    n_chunks = (chunks_start - 16) // 8
    metas = [
        struct.unpack_from("<iI", buf, 16 + 8 * i) for i in range(n_chunks)
    ]
    for i, (doc_id_word, chunk_off) in enumerate(metas):
        huge = bool(doc_id_word & -0x80000000)
        start = chunks_start + chunk_off
        end = (
            chunks_start + metas[i + 1][1] if i + 1 < n_chunks else len(buf)
        )
        chunk = _decompress_chunk(buf[start:end], comp, None)
        if huge:
            yield chunk, np.array([0, len(chunk)], dtype="=i4")
            continue
        (n_docs,) = struct.unpack_from("<i", chunk, 0)
        offs = np.empty(n_docs + 1, dtype="=i4")
        offs[:n_docs] = np.frombuffer(chunk, dtype="<i4", count=n_docs, offset=4)
        offs[n_docs] = len(chunk)
        yield chunk, offs


def _decode_var_byte_column(bounds, data_type: str):
    """(chunk, offsets) stream -> object ndarray of str / bytes. The
    per-row bytes-slice-and-decode loop is replaced by Arrow
    from_buffers over the chunk itself: Arrow permits a non-zero first
    offset, so the chunk's own offset-header region is simply never
    referenced. STRING arrays get a full validation pass, keeping the
    strict-UTF-8 failure behavior of bytes.decode on the iterator
    path (invalid bytes raise instead of decoding silently)."""
    import numpy as np
    import pyarrow as pa

    typ = pa.utf8() if data_type == "STRING" else pa.binary()
    arrs = []
    for chunk, offs in bounds:
        if len(chunk) > 2**31 - 1:
            # the container format's own per-value offsets are int32, so
            # a >2 GiB decompressed chunk is unaddressable by design —
            # the int32 sentinel would wrap and mis-slice silently. Fail
            # loudly (ADVICE r15): corrupt/huge containers are an error,
            # not a decode path.
            raise UnsupportedSegmentError(
                f"var-byte chunk decompressed to {len(chunk)} bytes — "
                f"beyond the container's int32 offset range"
            )
        arr = pa.Array.from_buffers(
            typ,
            len(offs) - 1,
            [None, pa.py_buffer(offs), pa.py_buffer(chunk)],
        )
        if data_type == "STRING":
            arr.validate(full=True)
        arrs.append(arr)
    if not arrs:
        return np.empty(0, dtype=object)
    return pa.chunked_array(arrs, type=typ).to_pandas().to_numpy()


def _decode_raw_sv(buf: bytes, cm: ColumnMeta, num_docs: int):
    """Raw SV forward index -> numpy array / list[str]."""
    import numpy as np

    (container_version,) = struct.unpack_from(">i", buf, 0)
    if container_version >= 4:
        # V4 stores var-byte types only (STRING/BYTES/BIG_DECIMAL)
        if cm.data_type in ("STRING", "BYTES"):
            return _decode_var_byte_column(
                _var_byte_chunk_bounds_v4(buf), cm.data_type
            )
        raise UnsupportedSegmentError(
            f"V4 chunk container with fixed-width type {cm.data_type} "
            f"for column {cm.name}"
        )
    _, docs_per_chunk, size_of_entry, total_docs, comp, bounds = (
        _parse_chunk_container(buf)
    )
    n = total_docs or num_docs
    if cm.data_type in _FIXED_WIDTH:
        width = _FIXED_WIDTH[cm.data_type]
        parts = []
        remaining = n
        for start, end in bounds:
            docs_here = min(docs_per_chunk, remaining)
            chunk = _decompress_chunk(buf[start:end], comp, docs_here * width)
            parts.append(np.frombuffer(chunk, dtype=_NP_BE[cm.data_type]))
            remaining -= docs_here
        arr = np.concatenate(parts)[:n]
        return arr.astype(arr.dtype.newbyteorder("="))
    if cm.data_type in ("STRING", "BYTES"):
        return _decode_var_byte_column(
            _var_byte_chunk_bounds(buf, n), cm.data_type
        )
    raise UnsupportedSegmentError(
        f"raw data type {cm.data_type} for column {cm.name}"
    )


def _encode_raw_sv(vals, data_type: str, compression: str) -> bytes:
    """Values -> raw SV chunk container (version 3, long chunk offsets).
    STRING columns upgrade plain LZ4 to LZ4_LENGTH_PREFIXED (see
    _encode_var_byte_entries — var-byte chunks carry no decompressed
    size, and the prefix keeps reads on the vectorized pyarrow path);
    fixed-width chunks keep plain LZ4 (size derivable: docs x width)."""
    import numpy as np

    if compression == "LZ4" and data_type not in _FIXED_WIDTH:
        compression = "LZ4_LENGTH_PREFIXED"
    n = len(vals)
    chunks: list[bytes] = []
    if data_type in _FIXED_WIDTH:
        width = _FIXED_WIDTH[data_type]
        docs_per_chunk = max(1, (1 << 20) // width)
        arr = np.asarray(vals).astype(_NP_BE[data_type])
        for i in range(0, n, docs_per_chunk):
            chunks.append(arr[i : i + docs_per_chunk].tobytes())
        size_of_entry = width
    else:
        enc = [
            bytes(v) if isinstance(v, (bytes, bytearray)) else v.encode("utf-8")
            for v in vals
        ]
        size_of_entry = max((len(b) for b in enc), default=0)
        docs_per_chunk = max(1, (1 << 20) // (4 + max(size_of_entry, 1)))
        for i in range(0, n, docs_per_chunk):
            rows = enc[i : i + docs_per_chunk]
            header_len = 4 * docs_per_chunk
            offs, pos = [], header_len
            for b in rows:
                offs.append(pos)
                pos += len(b)
            # partial final chunk: missing row offsets stay 0
            offs += [0] * (docs_per_chunk - len(rows))
            chunks.append(
                struct.pack(f">{docs_per_chunk}i", *offs) + b"".join(rows)
            )
    num_chunks = len(chunks)
    header_size = 28 + 8 * num_chunks
    out = [
        struct.pack(
            ">iiiiiii",
            3,
            num_chunks,
            docs_per_chunk,
            size_of_entry,
            n,
            _COMPRESSION_IDS[compression],
            28,
        )
    ]
    compressed = [_compress_chunk(c, compression) for c in chunks]
    pos = header_size
    for c in compressed:
        out.append(struct.pack(">q", pos))
        pos += len(c)
    return b"".join(out) + b"".join(compressed)


def _mv_entry_bytes(values, data_type: str) -> bytes:
    """One MV cell -> its var-byte entry (FixedByteChunkMVForwardIndexReader
    / VarByteChunkMVForwardIndexReader layouts, big-endian): numeric =
    [numValues][values...]; STRING = [numValues][len_i...][contents]."""
    import numpy as np

    if data_type in _FIXED_WIDTH:
        arr = np.asarray(values).astype(_NP_BE[data_type])
        return struct.pack(">i", len(arr)) + arr.tobytes()
    enc = [v.encode("utf-8") for v in values]
    return (
        struct.pack(f">{len(enc) + 1}i", len(enc), *(len(b) for b in enc))
        + b"".join(enc)
    )


def _parse_mv_entry(entry: bytes, data_type: str):
    import numpy as np

    (n_values,) = struct.unpack_from(">i", entry, 0)
    if data_type in _FIXED_WIDTH:
        arr = np.frombuffer(entry, dtype=_NP_BE[data_type], count=n_values, offset=4)
        return arr.astype(arr.dtype.newbyteorder("="))
    lengths = struct.unpack_from(f">{n_values}i", entry, 4)
    pos = 4 * (n_values + 1)
    out = []
    for ln in lengths:
        out.append(entry[pos : pos + ln].decode("utf-8"))
        pos += ln
    return out


def _decode_raw_mv(buf: bytes, cm: ColumnMeta, num_docs: int):
    """Raw (noDictionary) MV forward index -> list of per-doc arrays.
    Both fixed-byte (numeric) and var-byte (STRING) MV forms store each
    doc as one var-byte entry in the chunk container
    (FixedByteChunkMVForwardIndexReader.java:39-42 — maxChunkSize =
    numDocsPerChunk * (ROW_OFFSET_SIZE + lengthOfLongestEntry), i.e. the
    row-offset chunk layout — and VarByteChunkMVForwardIndexReader).

    Numeric entries are gathered vectorized per chunk (one byte-index
    fanout + one frombuffer + an Arrow list fan-out) instead of per-row
    struct unpacks — the entries sit consecutively, so only the count
    headers need skipping."""
    (container_version,) = struct.unpack_from(">i", buf, 0)
    if cm.data_type in _FIXED_WIDTH and container_version < 4:
        return _decode_raw_mv_numeric_vec(buf, cm, num_docs)
    entries = (
        _iter_var_byte_entries_v4(buf)
        if container_version >= 4
        else _iter_var_byte_entries(buf, num_docs)
    )
    return [_parse_mv_entry(e, cm.data_type) for e in entries]


def _decode_raw_mv_numeric_vec(buf: bytes, cm: ColumnMeta, num_docs: int):
    import numpy as np
    import pyarrow as pa

    width = _FIXED_WIDTH[cm.data_type]
    _, docs_per_chunk, _, total_docs, comp, bounds = _parse_chunk_container(buf)
    remaining = total_docs or num_docs
    out = []
    for start, end in bounds:
        docs_here = min(docs_per_chunk, remaining)
        chunk = _decompress_chunk(buf[start:end], comp, None)
        lows = np.array(
            struct.unpack_from(f">{docs_here}i", chunk, 0), dtype=np.int64
        )
        b = np.frombuffer(chunk, dtype=np.uint8)
        hdr = b[lows[:, None] + np.arange(4)]
        counts = (
            (hdr[:, 0].astype(np.int64) << 24)
            | (hdr[:, 1].astype(np.int64) << 16)
            | (hdr[:, 2].astype(np.int64) << 8)
            | hdr[:, 3].astype(np.int64)
        )
        lens = counts * width
        starts = lows + 4
        total = int(lens.sum())
        # gather all value bytes, skipping the 4-byte count headers
        seg_starts = np.repeat(starts, lens)
        within = np.arange(total) - np.repeat(
            np.concatenate(([0], np.cumsum(lens)[:-1])), lens
        )
        values = np.frombuffer(
            b[seg_starts + within].tobytes(), dtype=_NP_BE[cm.data_type]
        )
        values = values.astype(values.dtype.newbyteorder("="))
        # per-doc fan-out through an Arrow list array: np.split built
        # 10k+ Python-level views per chunk (the dominant decode cost);
        # ListArray.from_arrays does the same slicing once in C and
        # to_pandas yields the identical per-doc numpy arrays
        la_offs = np.empty(docs_here + 1, dtype="=i4")
        la_offs[0] = 0
        la_offs[1:] = np.cumsum(counts)
        out.append(pa.ListArray.from_arrays(la_offs, pa.array(values)))
        remaining -= docs_here
    return (
        pa.chunked_array(out).to_pandas().to_numpy()
        if out
        else np.empty(0, dtype=object)
    )


def _encode_raw_mv(doc_values, data_type: str, compression: str) -> bytes:
    """Per-doc value arrays -> raw MV chunk container (version 3)."""
    entries = [_mv_entry_bytes(v, data_type) for v in doc_values]
    return _encode_var_byte_entries(entries, compression)


def _encode_var_byte_entries(entries: list[bytes], compression: str) -> bytes:
    """Var-byte entries -> version-3 chunk container (row-offset header).

    Plain LZ4 is upgraded to LZ4_LENGTH_PREFIXED (the reference's
    ChunkCompressorFactory.getCompressor(type, upgrade=true) pattern):
    var-byte chunks have no derivable decompressed size, so a plain LZ4
    block forces the sequential pure-Python decoder on read, while the
    length prefix keeps the vectorized pyarrow path. Migrated reference
    segments with plain-LZ4 var-byte chunks still decode (slow path)."""
    if compression == "LZ4":
        compression = "LZ4_LENGTH_PREFIXED"
    n = len(entries)
    size_of_entry = max((len(e) for e in entries), default=0)
    docs_per_chunk = max(1, (1 << 20) // (4 + max(size_of_entry, 1)))
    chunks: list[bytes] = []
    for i in range(0, n, docs_per_chunk):
        rows = entries[i : i + docs_per_chunk]
        header_len = 4 * docs_per_chunk
        offs, pos = [], header_len
        for b in rows:
            offs.append(pos)
            pos += len(b)
        offs += [0] * (docs_per_chunk - len(rows))
        chunks.append(struct.pack(f">{docs_per_chunk}i", *offs) + b"".join(rows))
    num_chunks = len(chunks)
    header_size = 28 + 8 * num_chunks
    out = [
        struct.pack(
            ">iiiiiii",
            3,
            num_chunks,
            docs_per_chunk,
            size_of_entry,
            n,
            _COMPRESSION_IDS[compression],
            28,
        )
    ]
    compressed = [_compress_chunk(c, compression) for c in chunks]
    pos = header_size
    for c in compressed:
        out.append(struct.pack(">q", pos))
        pos += len(c)
    return b"".join(out) + b"".join(compressed)


def _encode_raw_sv_v4(
    vals,
    compression: str,
    target_chunk_size: int = 1 << 20,
) -> bytes:
    """STRING values -> V4 var-byte container
    (VarByteChunkSVForwardIndexWriterV4.java): values pack into chunks of
    at most target_chunk_size decompressed bytes; a value that cannot fit
    in an empty chunk becomes its own huge chunk (raw bytes, MSB-flagged
    metadata). The writer upgrades LZ4 to LZ4_LENGTH_PREFIXED
    (ChunkCompressorFactory.getCompressor(type, true)) so readers know
    decompressed sizes."""
    if compression == "LZ4":
        compression = "LZ4_LENGTH_PREFIXED"
    enc = [
        v if isinstance(v, (bytes, bytearray)) else str(v).encode("utf-8")
        for v in vals
    ]
    # (chunk_payload_bytes, huge, n_docs) in doc order
    plan: list[tuple[bytes, bool, int]] = []
    cur: list[bytes] = []
    cur_size = 4  # numDocs slot
    for b in enc:
        need = 4 + len(b)
        if cur and cur_size + need > target_chunk_size:
            plan.append((_pack_v4_chunk(cur), False, len(cur)))
            cur, cur_size = [], 4
        if need > target_chunk_size - 4:
            if cur:
                plan.append((_pack_v4_chunk(cur), False, len(cur)))
                cur, cur_size = [], 4
            plan.append((bytes(b), True, 1))
            continue
        cur.append(bytes(b))
        cur_size += need
    if cur:
        plan.append((_pack_v4_chunk(cur), False, len(cur)))
    metadata = []
    chunks = []
    doc_id = 0
    chunk_off = 0
    for payload, huge, n_docs in plan:
        comp = _compress_chunk(payload, compression)
        metadata.append(
            struct.pack("<iI", doc_id | (-0x80000000 if huge else 0), chunk_off)
        )
        chunks.append(comp)
        doc_id += n_docs
        chunk_off += len(comp)
    chunks_start = 16 + 8 * len(plan)
    header = struct.pack(
        ">iiii", 4, target_chunk_size, _COMPRESSION_IDS[compression], chunks_start
    )
    return header + b"".join(metadata) + b"".join(chunks)


def _pack_v4_chunk(rows: list[bytes]) -> bytes:
    n = len(rows)
    offs, pos = [], 4 * (n + 1)
    for b in rows:
        offs.append(pos)
        pos += len(b)
    return struct.pack(f"<{n + 1}i", n, *offs) + b"".join(rows)


# ---------------------------------------------------------------------------
# range index v1 (RangeIndexCreator.java:296-386 layout: int version=1 |
# int len + dataType name UTF-8 | int numRanges | R+1 boundary values
# (R range starts + the last range's end, big-endian, valueType width) |
# R+1 longs (first-bitmap start offset, then each bitmap's end offset) |
# serialized RoaringBitmaps of docIds per range. Ranges are built over
# the value-sorted (value, docId) pairs at ~numValuesPerRange docs per
# range, never splitting equal values (RangeIndexCreator.java:280-291).
# For dictionary-encoded columns the indexed values are dictIds (INT).

_RANGE_WIDTH = {"INT": (4, ">i"), "LONG": (8, ">q"), "FLOAT": (4, ">f"), "DOUBLE": (8, ">d")}


def _encode_range_index(values, doc_ids, data_type: str, num_ranges: int = 20) -> bytes:
    import numpy as np

    values = np.asarray(values)
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    order = np.argsort(values, kind="stable")
    sv, sd = values[order], doc_ids[order]
    n = len(sv)
    per = max(1, n // num_ranges)
    ranges = []
    start = 0
    for i in range(n):
        if i > start + per and sv[i] != sv[i - 1]:
            ranges.append((start, i - 1))
            start = i
    ranges.append((start, n - 1))
    width, fmt = _RANGE_WIDTH[data_type]
    name = data_type.encode("utf-8")
    bitmaps = [roaring_serialize(sd[a : b + 1]) for a, b in ranges]
    header_size = 4 + 4 + len(name) + 4 + (len(ranges) + 1) * width + (len(ranges) + 1) * 8
    out = [struct.pack(">i", 1), struct.pack(">i", len(name)), name,
           struct.pack(">i", len(ranges))]
    for a, _b in ranges:
        out.append(struct.pack(fmt, sv[a]))
    out.append(struct.pack(fmt, sv[ranges[-1][1]]))  # last range end value
    pos = header_size
    out.append(struct.pack(">q", pos))  # first bitmap start
    for bm in bitmaps:
        pos += len(bm)
        out.append(struct.pack(">q", pos))  # end offset per bitmap
    return b"".join(out) + b"".join(bitmaps)


def _parse_range_index(buf: bytes):
    """-> (data_type, [range start values..., last end], [(bm_start, bm_end)])"""
    (version,) = struct.unpack_from(">i", buf, 0)
    if version != 1:
        raise UnsupportedSegmentError(f"range index version {version}")
    (name_len,) = struct.unpack_from(">i", buf, 4)
    data_type = buf[8 : 8 + name_len].decode("utf-8")
    pos = 8 + name_len
    (num_ranges,) = struct.unpack_from(">i", buf, pos)
    pos += 4
    width, fmt = _RANGE_WIDTH[data_type]
    bounds = [
        struct.unpack_from(fmt, buf, pos + i * width)[0]
        for i in range(num_ranges + 1)
    ]
    pos += (num_ranges + 1) * width
    offs = struct.unpack_from(f">{num_ranges + 1}q", buf, pos)
    spans = [(offs[i], offs[i + 1]) for i in range(num_ranges)]
    return data_type, bounds, spans


def range_index_candidates(meta: SegmentMeta, psf: bytes, col: str, lo, hi):
    """DocId superset for `lo <= value <= hi` from the range index: the
    union of bitmaps of every range overlapping the bound (for
    dictionary columns lo/hi are raw values, mapped to dictIds via the
    sorted dictionary). Exact filtering of the candidates is the
    caller's job — same contract as the reference's range-filter
    operator."""
    import bisect

    import numpy as np

    cm = meta.columns[col]
    if cm.has_dictionary:
        dict_vals = _decode_dictionary(_index_buffer(meta, psf, col, "dictionary"), cm)
        dv = list(dict_vals)
        lo_k = bisect.bisect_left(dv, lo)
        hi_k = bisect.bisect_right(dv, hi) - 1
        if lo_k > hi_k:
            return np.empty(0, dtype=np.uint32)
        lo, hi = lo_k, hi_k
    buf = _index_buffer(meta, psf, col, "range_index")
    _dt, bounds, spans = _parse_range_index(buf)
    starts, last_end = bounds[:-1], bounds[-1]
    out = []
    for i, (bm_start, bm_end) in enumerate(spans):
        r_lo = starts[i]
        if i + 1 < len(spans):
            # equal values never split across ranges, so the next range's
            # start strictly exceeds this range's end: exclusive bound
            overlaps = lo < starts[i + 1] and hi >= r_lo
        else:
            overlaps = lo <= last_end and hi >= r_lo
        if overlaps:
            out.append(roaring_deserialize(buf[bm_start:bm_end]))
    if not out:
        return np.empty(0, dtype=np.uint32)
    return np.unique(np.concatenate(out))


# ---------------------------------------------------------------------------
# guava-compatible bloom filter. On-disk buffer layout (round-13: the
# index buffer carries Pinot's OWN 8-byte envelope BEFORE the guava
# bytes — BloomFilterReaderFactory.java:31-41 reads int typeValue=1,
# int versionValue=1 at offsets 0/4 and views the rest; the previous
# header-less form would fail the reference's type check and real
# migrated segments failed ours):
#   int TYPE_VALUE=1 | int VERSION=1        (OnHeapGuavaBloomFilterCreator.java:45-46,76-78)
#   byte strategyOrdinal=1 | byte numHashFunctions | int numLongs |
#   numLongs big-endian longs               (guava BloomFilter.writeTo;
#                                            BaseGuavaBloomFilterReader.java:31-52)
# membership: murmur3-128 of the UTF-8 value, hash1/hash2 =
# little-endian longs of the digest halves, k probes at
# (hash1 + i*hash2) & Long.MAX_VALUE % numBits, bits LSB-first per long.

_LONG_MASK = (1 << 64) - 1
_BLOOM_ENVELOPE = struct.pack(">ii", 1, 1)  # TYPE_VALUE, VERSION


def _bloom_hashes(value: str) -> tuple[int, int]:
    from hurricanedb_spark.operators.theta_ds import murmur3_x64_128

    return murmur3_x64_128(value.encode("utf-8"), 0)


def _bloom_sizing(n: int, fpp: float) -> tuple[int, int]:
    """Guava BloomFilter.create sizing, bit-exact (round-13, pinned by
    the real-jar golden): optimalNumOfBits truncates toward zero and is
    NOT floored at one long — the long count rounds up only at array
    allocation — and optimalNumOfHashFunctions uses the PRE-rounding
    bit count with Java's ties-toward-+inf Math.round (the old version
    floored bits at 64 first, giving e.g. k=44 instead of guava's k=4
    at n=1, fpp=0.05 — readable both ways but not byte-identical)."""
    import math

    from hurricanedb_spark.operators.clearspring_hll import _java_round

    n = max(n, 1)
    if fpp == 0.0:
        fpp = 4.9e-324  # guava substitutes Double.MIN_VALUE
    bits = int(-n * math.log(fpp) / (math.log(2) ** 2))  # toward zero
    num_longs = max(1, (bits + 63) // 64)
    k = max(1, _java_round(bits / n * math.log(2)))
    return num_longs, min(k, 255)


def bloom_serialize(values, fpp: float = 0.05) -> bytes:
    """Build the reference's .bloom index bytes (8-byte Pinot envelope +
    guava-format filter) over stringified values."""
    import numpy as np

    vals = list(values)
    num_longs, k = _bloom_sizing(len(vals), fpp)
    num_bits = num_longs * 64
    data = np.zeros(num_longs, dtype=np.uint64)
    for v in vals:
        h1, h2 = _bloom_hashes(v)
        combined = h1
        for _ in range(k):
            bit = (combined & (1 << 63) - 1) % num_bits
            data[bit >> 6] |= np.uint64(1 << (bit & 63))
            combined = (combined + h2) & _LONG_MASK
    return (
        _BLOOM_ENVELOPE
        + struct.pack(">BBi", 1, k, num_longs)
        + data.byteswap().tobytes()  # big-endian longs
    )


def bloom_might_contain(buf: bytes, value: str) -> bool:
    type_value, version = struct.unpack_from(">ii", buf, 0)
    if (type_value, version) != (1, 1):
        raise UnsupportedSegmentError(
            f"bloom filter type/version {(type_value, version)} "
            "(expected guava on-heap v1)"
        )
    strategy, k, num_longs = struct.unpack_from(">BBi", buf, 8)
    if strategy != 1:
        raise UnsupportedSegmentError(f"bloom strategy ordinal {strategy}")
    num_bits = num_longs * 64
    h1, h2 = _bloom_hashes(value)
    combined = h1
    for _ in range(k):
        bit = (combined & (1 << 63) - 1) % num_bits
        (word,) = struct.unpack_from(">Q", buf, 14 + 8 * (bit >> 6))
        if not word & (1 << (bit & 63)):
            return False
        combined = (combined + h2) & _LONG_MASK
    return True


# ---------------------------------------------------------------------------
# bitmap inverted index (BitmapInvertedIndexWriter.java:33-50: numBitmaps+1
# big-endian int offsets — absolute, end-exclusive — then one serialized
# portable RoaringBitmap of docIds per dictId)


def _encode_inverted_index(doc_ids_per_dict: list) -> bytes:
    blobs = [roaring_serialize(d) for d in doc_ids_per_dict]
    n = len(blobs)
    pos = 4 * (n + 1)
    offsets = [pos]
    for b in blobs:
        pos += len(b)
        offsets.append(pos)
    return struct.pack(f">{n + 1}i", *offsets) + b"".join(blobs)


def _group_docs_by_dict(dict_ids, doc_ids, cardinality: int):
    """(value dictId, value docId) pairs -> per-dictId sorted docId
    arrays, vectorized (stable argsort + split by counts)."""
    import numpy as np

    order = np.argsort(dict_ids, kind="stable")
    counts = np.bincount(dict_ids, minlength=cardinality)
    return [np.unique(a) for a in np.split(doc_ids[order], np.cumsum(counts)[:-1])]


def read_inverted_index(meta: SegmentMeta, psf: bytes, col: str):
    """Inverted index -> list of sorted numpy docId arrays per dictId."""
    buf = _index_buffer(meta, psf, col, "inverted_index")
    card = meta.columns[col].cardinality
    offsets = struct.unpack_from(f">{card + 1}i", buf, 0)
    return [
        roaring_deserialize(buf[offsets[i] : offsets[i + 1]]) for i in range(card)
    ]


def _mv_docs_per_chunk(num_docs: int, total_values: int) -> int:
    """FixedBitMVForwardIndexWriter:79-80 — note the writer's INT
    division for averageValuesPerDoc; avg 0 (more docs than values)
    overflows ceil(2048/0.0) to Integer.MAX_VALUE."""
    avg = total_values // num_docs
    if avg == 0:
        return 2**31 - 1
    return -(-2048 // avg)  # ceil


def _decode_mv_fwd(buf: bytes, num_docs: int, total_values: int, bits: int):
    """MV forward index -> list of per-doc dictId arrays (vectorized:
    boundary bitset -> start positions, then one split)."""
    import numpy as np

    docs_per_chunk = _mv_docs_per_chunk(num_docs, total_values)
    num_chunks = (num_docs + docs_per_chunk - 1) // docs_per_chunk
    header_size = 4 * num_chunks
    bitset_size = (total_values + 7) // 8
    bitset = np.unpackbits(
        np.frombuffer(buf, dtype=np.uint8, count=bitset_size, offset=header_size)
    )[:total_values]
    starts = np.nonzero(bitset)[0]
    if len(starts) != num_docs:
        raise ValueError(
            f"MV bitset has {len(starts)} doc starts, expected {num_docs}"
        )
    ids = _unpack_dict_ids(buf[header_size + bitset_size :], total_values, bits)
    return np.split(ids, starts[1:])


def _encode_mv_fwd(doc_arrays, bits: int) -> bytes:
    """Per-doc dictId arrays -> MV forward index bytes (writer layout:
    chunk-offset header, doc-start bitset, packed ids)."""
    import numpy as np

    num_docs = len(doc_arrays)
    lengths = np.array([len(a) for a in doc_arrays], dtype=np.int64)
    if (lengths == 0).any():
        raise ValueError(
            "empty multi-value rows cannot be encoded — the reference "
            "ingests null/empty MV cells as [defaultNullValue]; fill first"
        )
    total_values = int(lengths.sum())
    docs_per_chunk = _mv_docs_per_chunk(num_docs, total_values)
    num_chunks = (num_docs + docs_per_chunk - 1) // docs_per_chunk
    starts = np.concatenate(([0], np.cumsum(lengths)[:-1]))
    header = struct.pack(
        f">{num_chunks}i", *(int(starts[c * docs_per_chunk]) for c in range(num_chunks))
    )
    bitset = np.zeros(total_values, dtype=np.uint8)
    bitset[starts] = 1
    flat = np.concatenate([np.asarray(a, dtype=np.uint64) for a in doc_arrays])
    return header + np.packbits(bitset).tobytes() + _pack_dict_ids(flat, bits)


def write_valid_doc_ids(segment_dir: str, doc_ids) -> str:
    """Persist the upsert valid-docId snapshot
    (`validdocids.bitmap.snapshot`, raw serialized RoaringBitmap —
    ImmutableSegmentImpl.persistValidDocIdsSnapshot)."""
    path = os.path.join(_resolve_dir(segment_dir), VALID_DOC_IDS_FILE)
    with open(path, "wb") as f:
        f.write(roaring_serialize(doc_ids))
    return path


def read_valid_doc_ids(segment_dir: str):
    """Valid docIds from the snapshot, or None when absent
    (ImmutableSegmentImpl.loadValidDocIdsFromSnapshot)."""
    path = os.path.join(_resolve_dir(segment_dir), VALID_DOC_IDS_FILE)
    if not os.path.isfile(path):
        return None
    with open(path, "rb") as f:
        return roaring_deserialize(f.read())


def _normalize_where(where) -> list[tuple]:
    """`where` accepts one (col, op, value) tuple or a list of them
    (AND conjunction — the reference's FilterOperator AND of leaf
    predicates). Returns the conjunct list."""
    if where is None:
        return []
    if isinstance(where, tuple):
        return [where]
    return list(where)


def segment_filter_docs(meta: SegmentMeta, psf: bytes, where: tuple):
    """DocIds matching `where = (col, op, value)` using the segment's
    own index structures, the reference's filter-operator selection
    order (FilterOperatorUtils.java:183-220): inverted index for
    equality / IN posting union / NOT_IN complement (exact unless a
    null vector exists), range index for range ops (superset — caller
    verifies), FST for regexp, else None (caller scans).
    Returns (doc_ids, exact)."""
    col, op, value = where
    cm = meta.columns.get(col)
    if cm is None or not cm.has_dictionary:
        return None, False
    if op in ("=", "in", "not_in") and (col, "inverted_index") in meta.index_map:
        import bisect

        import numpy as np

        dict_vals = _decode_dictionary(
            _index_buffer(meta, psf, col, "dictionary"), cm
        )
        dv = list(dict_vals)
        wanted = [value] if op == "=" else list(value)
        hit_ids = []
        for v in wanted:
            i = bisect.bisect_left(dv, v)
            if i < len(dv) and dv[i] == v:
                hit_ids.append(i)
        # null docs are stored under the FieldSpec DEFAULT value's dictId
        # and would match it through the index while the scan path (which
        # nulls them first) would not — return inexact so the caller's
        # residual predicate re-verifies against the null-applied column
        exact = (col, "nullvalue_vector") not in meta.index_map
        if op == "not_in":
            # complement of the posting union (NotInPredicateEvaluator /
            # FilterOperatorUtils); nulls make it inexact as above
            if not hit_ids:
                return np.arange(meta.total_docs, dtype=np.uint32), exact
            postings = read_inverted_index(meta, psf, col)
            union = np.unique(np.concatenate([postings[i] for i in hit_ids]))
            return (
                np.setdiff1d(
                    np.arange(meta.total_docs, dtype=np.uint32),
                    union.astype(np.uint32),
                ),
                exact,
            )
        if not hit_ids:
            return np.empty(0, dtype=np.uint32), True
        postings = read_inverted_index(meta, psf, col)
        # IN-list / OR-of-equalities: posting union, sorted+deduped
        # (BitmapBasedFilterOperator's OR of per-value bitmaps)
        docs = np.unique(np.concatenate([postings[i] for i in hit_ids]))
        return docs, exact
    if op in ("between", "<=", ">=") and (col, "range_index") in meta.index_map:
        if op == "between":
            lo, hi = value
        else:
            mm = typed_min_max(cm)
            if mm is None:
                return None, False  # no bound to close the range: scan
            lo, hi = (mm[0], value) if op == "<=" else (value, mm[1])
        return range_index_candidates(meta, psf, col, lo, hi), False
    if op == "regexp_like" and (col, "fst_index") in meta.index_map:
        import numpy as np

        from hurricanedb_spark.sources.native_text_index import ImmutableFst

        fst = ImmutableFst(_index_buffer(meta, psf, col, "fst_index"))
        rx = re.compile(value)
        dict_ids = np.array(
            sorted(
                out
                for term, out in fst.terms()
                if out is not None and rx.search(term) is not None
            ),
            dtype=np.int64,
        )
        # null docs hold the FieldSpec default ('null' for STRING), which
        # the pattern may match — inexact when a null vector exists, so
        # the caller's residual re-verifies against the null-applied
        # column (same rule as the inverted-index equality path)
        exact = (col, "nullvalue_vector") not in meta.index_map
        if len(dict_ids) == 0:
            return np.empty(0, dtype=np.uint32), exact
        if (col, "inverted_index") in meta.index_map:
            postings = read_inverted_index(meta, psf, col)
            docs = np.unique(
                np.concatenate([postings[i] for i in dict_ids])
            )
            return docs, exact
        # membership over the forward dictIds (FSTBasedRegexpPredicate-
        # Evaluator's shape: matching dictId set, evaluated per doc)
        fwd = _index_buffer(meta, psf, col, "forward_index")
        if cm.is_sorted and len(fwd) == cm.cardinality * 8:
            ids = _decode_sorted_fwd(fwd, cm)
        else:
            ids = _unpack_dict_ids(fwd, meta.total_docs, cm.bits_per_element)
        docs = np.nonzero(np.isin(ids, dict_ids))[0]
        return docs, exact
    return None, False


def read_segment_pandas(
    segment_dir: str,
    columns: list[str] | None = None,
    apply_valid_doc_ids: bool = True,
    where: tuple | None = None,
    doc_ids=None,
):
    """Decode one segment into a pandas DataFrame (column-pruned).
    When an upsert valid-docId snapshot is present, invalid
    (overwritten) docs are dropped — the reference's upsert read path —
    unless apply_valid_doc_ids=False. `where` = one (col, op, value)
    tuple or a list of them (AND conjunction); each conjunct filters
    rows using the segment's own indexes where present (inverted for
    equality / IN-list / NOT_IN complement, range index for ranges)
    with an exact verify pass, else a decoded-column scan — always
    exact results. An OR-of-equalities on one column is the IN-list op
    ("col", "in", [v1, v2, ...])."""
    import pandas as pd

    meta = read_segment_metadata(segment_dir)
    want = columns if columns is not None else sorted(meta.columns)
    psf = _read_psf(meta)
    conjuncts = _normalize_where(where)
    extra_cols: list[str] = []
    # per-conjunct (docs, exact) index answers
    answers = [segment_filter_docs(meta, psf, c) for c in conjuncts]
    for c, (docs, exact) in zip(conjuncts, answers):
        # decode the filter column only when a residual verify is needed
        # (index miss or inexact candidates) — an exact index hit never
        # evaluates the predicate against decoded values
        if (docs is None or not exact) and c[0] not in want and c[0] not in extra_cols:
            extra_cols.append(c[0])
    want = [*want, *extra_cols]
    out = {}
    for name in want:
        cm = meta.columns.get(name)
        if cm is None:
            raise KeyError(f"column {name!r} not in segment {segment_dir}")
        if not cm.has_dictionary:
            if not cm.is_single_value:
                out[name] = pd.Series(
                    _decode_raw_mv(
                        _index_buffer(meta, psf, name, "forward_index"),
                        cm,
                        meta.total_docs,
                    ),
                    dtype="object",
                )
                continue
            raw = _decode_raw_sv(
                _index_buffer(meta, psf, name, "forward_index"), cm, meta.total_docs
            )
            ser = pd.Series(raw, dtype="object" if cm.data_type == "STRING" else None)
            out[name] = _apply_null_vector(ser, meta, psf, name, cm)
            continue
        dict_vals = _decode_dictionary(
            _index_buffer(meta, psf, name, "dictionary"), cm
        )
        fwd = _index_buffer(meta, psf, name, "forward_index")
        if not cm.is_single_value:
            # careful: must not shadow the doc_ids PARAMETER (allowlist)
            mv_dict_ids = _decode_mv_fwd(
                fwd, meta.total_docs, cm.total_entries, cm.bits_per_element
            )
            if cm.data_type == "STRING":
                col = pd.Series(
                    [[dict_vals[i] for i in ids] for ids in mv_dict_ids],
                    dtype="object",
                )
            else:
                col = pd.Series(
                    [dict_vals[ids] for ids in mv_dict_ids], dtype="object"
                )
            out[name] = col
            continue
        if cm.is_sorted and len(fwd) == cm.cardinality * 8:
            ids = _decode_sorted_fwd(fwd, cm)
        else:
            ids = _unpack_dict_ids(fwd, meta.total_docs, cm.bits_per_element)
        if cm.data_type == "STRING":
            import numpy as np

            lut = np.asarray(dict_vals, dtype=object)
            ser = pd.Series(lut[ids], dtype="object")
        else:
            ser = pd.Series(dict_vals[ids])
        out[name] = _apply_null_vector(ser, meta, psf, name, cm)
    pdf = pd.DataFrame(out)
    import numpy as np

    keep = np.ones(len(pdf), dtype=bool)
    if doc_ids is not None:
        # caller-supplied docId allowlist (e.g. a JSON-index posting);
        # applied in docId space, so it composes with valid-docids below
        m = np.zeros(len(pdf), dtype=bool)
        m[np.asarray(doc_ids, dtype=np.int64)] = True
        keep &= m
    for (col, op, value), (docs, exact) in zip(conjuncts, answers):
        if docs is not None:
            m = np.zeros(len(pdf), dtype=bool)
            m[np.asarray(docs, dtype=np.int64)] = True
            keep &= m
        if docs is None or not exact:
            keep &= _row_predicate(pdf[col], op, value)
    if apply_valid_doc_ids:
        valid = read_valid_doc_ids(segment_dir)
        if valid is not None:
            m = np.zeros(len(pdf), dtype=bool)
            m[np.asarray(valid, dtype=np.int64)] = True
            keep &= m
    if not keep.all():
        pdf = pdf[keep].reset_index(drop=True)
    if extra_cols:
        pdf = pdf.drop(columns=extra_cols)
    return pdf


def _row_predicate(ser, op: str, value):
    import numpy as np
    import pandas as pd

    if len(ser) and isinstance(ser.iloc[0], (list, tuple, np.ndarray)):
        # multi-value column: equality/IN mean any-element match (the
        # reference's MV filter semantics, same as the inverted index)
        if op == "=":
            return np.array(
                [v is not None and value in v for v in ser], dtype=bool
            )
        if op == "in":
            vs = set(value)
            return np.array(
                [v is not None and any(x in vs for x in v) for v in ser],
                dtype=bool,
            )
        raise ValueError(
            f"MV column filter supports '='/'in' (any-element), not {op!r}"
        )
    if op == "=":
        m = ser == value
    elif op == "in":
        m = ser.isin(list(value))
    elif op == "not_in":
        # NULL never matches NOT_IN (SQL three-valued logic); isin gives
        # False for nulls, so mask them out explicitly before negating
        m = ~ser.isin(list(value)) & ser.notna()
    elif op == "<":
        m = ser < value
    elif op == "<=":
        m = ser <= value
    elif op == ">":
        m = ser > value
    elif op == ">=":
        m = ser >= value
    elif op == "between":
        lo, hi = value
        m = (ser >= lo) & (ser <= hi)
    elif op == "regexp_like":
        # REGEXP_LIKE over the whole value (RegexpLikePredicateEvaluator
        # uses Matcher.find, i.e. UNANCHORED search) — Python re on both
        # this residual and the FST-index enumeration, so index answers
        # and scans always agree
        rx = re.compile(value)
        # pd.isna, not `is not None`: nullable-dtype nulls are pd.NA/NaN
        # and would stringify to '<NA>'/'nan' — null never matches
        m = pd.Series(
            [not pd.isna(v) and rx.search(str(v)) is not None for v in ser]
        )
    else:
        raise ValueError(f"unknown filter op {op!r}")
    # nullable dtypes produce pd.NA in the mask: null never matches
    return pd.Series(m).fillna(False).to_numpy(dtype=bool)


def _apply_null_vector(ser, meta: SegmentMeta, psf: bytes, name: str, cm: ColumnMeta):
    if (name, "nullvalue_vector") not in meta.index_map:
        return ser
    null_docs = roaring_deserialize(
        _index_buffer(meta, psf, name, "nullvalue_vector")
    )
    if len(null_docs):
        if cm.data_type in ("INT", "LONG"):
            ser = ser.astype("Int64" if cm.data_type == "LONG" else "Int32")
        elif cm.data_type in ("FLOAT", "DOUBLE"):
            # nullable float dtype: a plain float series would turn the
            # None into NaN, which Arrow/Spark keep as NaN — not NULL
            ser = ser.astype("Float64" if cm.data_type == "DOUBLE" else "Float32")
        ser[null_docs.astype("int64")] = None
    return ser


def segment_spark_schema(segment_dir: str, columns: list[str] | None = None) -> str:
    meta = read_segment_metadata(segment_dir)
    want = columns if columns is not None else sorted(meta.columns)
    parts = []
    for name in want:
        cm = meta.columns[name]
        try:
            t = _PINOT_TO_SPARK[cm.data_type]
        except KeyError:
            raise UnsupportedSegmentError(
                f"data type {cm.data_type} for column {name}"
            ) from None
        parts.append(f"`{name}` {t if cm.is_single_value else f'array<{t}>'}")
    return ", ".join(parts)


def typed_min_max(cm: ColumnMeta):
    """(min, max) of a column parsed from metadata, or None when absent
    or flagged invalid."""
    if cm.min_value is None or cm.max_value is None:
        return None
    if cm.data_type in ("INT", "LONG"):
        return int(cm.min_value), int(cm.max_value)
    if cm.data_type in ("FLOAT", "DOUBLE"):
        return float(cm.min_value), float(cm.max_value)
    return cm.min_value, cm.max_value


def prune_segments(segment_dirs: list[str], column: str, op: str, value):
    """Segment-level pruning on metadata min/max — the migration
    reader's partition pruning: a predicate that cannot match a
    segment's [min, max] range drops the whole segment without opening
    columns.psf. Unknown/invalid min-max keeps the segment (safe)."""
    kept = []
    # an IN-list (or OR-of-equalities collapsed to one) prunes when EVERY
    # value independently misses the segment — same per-value checks as
    # equality, OR'd (the broker's ColumnPartitionMetadata / bloom prune
    # over InPredicate values)
    eq_values = list(value) if op == "in" else [value] if op == "=" else None
    for seg in segment_dirs:
        meta = read_segment_metadata(seg)
        cm = meta.columns.get(column)
        if (
            cm is not None
            and eq_values is not None
            and cm.partition_function
            and cm.num_partitions > 0
            and cm.data_type in ("STRING", "INT", "LONG")
        ):
            from hurricanedb_spark.sources.partition_functions import partition_of

            pids = {
                partition_of(
                    str(v) if cm.data_type == "STRING" else int(v),
                    cm.partition_function,
                    cm.num_partitions,
                )
                for v in eq_values
            }
            if not pids & set(cm.partition_values):
                continue
        if (
            cm is not None
            and eq_values is not None
            and (column, "bloom_filter") in meta.index_map
            and cm.data_type in ("STRING", "INT", "LONG")
        ):
            # bloom filter: definite absence of EVERY value drops the
            # segment even when some fall inside [min, max]
            psf = _read_psf(meta)
            blm = _index_buffer(meta, psf, column, "bloom_filter")
            if not any(
                bloom_might_contain(
                    blm,
                    str(int(v)) if cm.data_type != "STRING" else str(v),
                )
                for v in eq_values
            ):
                continue
        rng = typed_min_max(cm) if cm else None
        if rng is None:
            kept.append(seg)
            continue
        lo, hi = rng
        if op == "=":
            match = lo <= value <= hi
        elif op == "in":
            match = any(lo <= v <= hi for v in value)
        elif op == "not_in":
            # min/max cannot prove every row is in the list; keep
            match = True
        elif op == "<":
            match = lo < value
        elif op == "<=":
            match = lo <= value
        elif op == ">":
            match = hi > value
        elif op == ">=":
            match = hi >= value
        elif op == "between":
            vlo, vhi = value
            match = not (hi < vlo or lo > vhi)
        elif op == "regexp_like":
            # min/max metadata cannot prune a regex; keep the segment
            # (row-level answers come from the FST index / scan instead)
            match = True
        else:
            raise ValueError(f"unknown prune op {op!r}")
        if match:
            kept.append(seg)
    return kept


# Per-session DataFrames that depend only on the session and the store:
# the id leaves, and the persisted scans behind the dialect's
# column-pruned and star-tree views (`session_view`). A DataFrame is an
# immutable plan, so one can back every query of its session. Weakly
# keyed by the session, so an entry dies with its session; least
# recently used first, at most _SESSION_FRAMES_SIZE each.
_SESSION_FRAMES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_SESSION_FRAMES_SIZE = 64
_SESSION_FRAMES_LOCK = threading.Lock()
# per session: the (defaultParallelism, Arrow batch size) that size the
# decode tasks (`_task_bound`)
_TASK_BOUNDS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
# one persisted build at a time, so that a key's successive builds see
# strictly newer segment versions
_SESSION_BUILD_LOCK = threading.Lock()


@dataclass
class _Persisted:
    """A persisted frame and the temp view over it. `versions` are its
    segments' versions when it was built; `holds` counts the requests
    that bound `view` and have not released it yet. An entry that is
    replaced or evicted is unpersisted at once, and its view is dropped
    when its last hold is released."""

    versions: tuple
    jdf: object
    view: str
    holds: int = 0
    gone: bool = False


def _frames(spark) -> OrderedDict:
    """Session `spark`'s entries (call under _SESSION_FRAMES_LOCK). A
    session that dies unpersists what it still holds."""
    frames = _SESSION_FRAMES.get(spark)
    if frames is None:
        frames = _SESSION_FRAMES[spark] = OrderedDict()
        weakref.finalize(spark, _unpersist_all, frames).atexit = False
    return frames


def _unpersist_all(frames: OrderedDict) -> None:
    for entry in list(frames.values()):
        if isinstance(entry, _Persisted):
            entry.jdf.unpersist(False)


def _retire(spark, entry) -> None:
    """Release a popped entry (call under _SESSION_FRAMES_LOCK): a
    persisted frame is unpersisted, and its view dropped unless a
    request still holds it."""
    if isinstance(entry, _Persisted):
        entry.jdf.unpersist(False)
        entry.gone = True
        if not entry.holds:
            spark.catalog.dropTempView(entry.view)


def _evict(spark, frames: OrderedDict, key=None) -> None:
    """Pop `key`'s entry, or the least recently used ones past the bound
    (call under _SESSION_FRAMES_LOCK), and retire them."""
    if key is not None:
        _retire(spark, frames.pop(key))
        return
    while len(frames) > _SESSION_FRAMES_SIZE:
        _retire(spark, frames.popitem(last=False)[1])


def _session_frame(spark, key: tuple, build):
    """The DataFrame cached under `key` for session `spark`, made by
    `build()` on a miss. The plan is cached, not its rows."""
    from pyspark.sql import DataFrame

    with _SESSION_FRAMES_LOCK:
        frames = _frames(spark)
        jdf = frames.get(key)
        if jdf is not None:
            frames.move_to_end(key)
            return DataFrame(jdf, spark)
    df = build()
    with _SESSION_FRAMES_LOCK:
        frames[key] = df._jdf
        _evict(spark, frames)
    return df


def _segment_versions(segment_dirs: list[str]) -> tuple:
    """Each segment's on-disk version: the stat of the files its
    metadata is parsed from (`_metadata_version`), and the (inode, size,
    mtime_ns) of columns.psf and of the upsert valid-docId snapshot, or
    None for either file when it is absent. A rewrite through the
    writers changes it."""
    out = []
    for seg in segment_dirs:
        d = _resolve_dir(seg)
        stats = [_metadata_version(d)]
        for name in (INDEX_FILE, VALID_DOC_IDS_FILE):
            try:
                s = os.stat(os.path.join(d, name))
                stats.append((s.st_ino, s.st_size, s.st_mtime_ns))
            except FileNotFoundError:
                stats.append(None)
        out.append(tuple(stats))
    return tuple(out)


def session_view(spark, key: tuple, segment_dirs: list[str], build):
    """(temp view name, "hit" or "build", release) for the frame cached
    under `key` in session `spark`: `build(plans)`, persisted MEMORY_ONLY
    in Spark's in-memory columnar cache. The first query that reads the
    view fills the cache, later ones read InMemoryTableScan and start no
    Python worker; a block that does not fit in storage memory is
    decoded again, as an uncached scan would be.

    `plans` pair each of `segment_dirs` with its `_segment_versions`
    entry, and the cached entry keeps them: a query that finds any of
    them changed rebuilds the entry. The versions also make each build's
    plan its own, since Spark's cache manager matches and uncaches plans
    by their result. The caller holds the view until it calls
    `release()`, once its query is analyzed: a replaced or evicted entry
    is unpersisted at once, but its view is dropped only when no request
    holds it, so a request that bound it still resolves it (and
    decodes). The view lives as long as the entry: dropping a temp view
    uncaches its plan, so a per-request drop would leave nothing to hit.
    `key[0]` names the views."""
    from pyspark import StorageLevel

    def hold(entry):
        entry.holds += 1

        def release():
            with _SESSION_FRAMES_LOCK:
                entry.holds -= 1
                if entry.gone and not entry.holds:
                    spark.catalog.dropTempView(entry.view)

        return release

    def current(versions):
        with _SESSION_FRAMES_LOCK:
            frames = _frames(spark)
            entry = frames.get(key)
            if entry is not None and entry.versions == versions:
                frames.move_to_end(key)
                return entry.view, "hit", hold(entry)
        return None

    hit = current(_segment_versions(segment_dirs))
    if hit is not None:
        return hit
    with _SESSION_BUILD_LOCK:
        versions = _segment_versions(segment_dirs)
        hit = current(versions)
        if hit is not None:
            return hit  # built while this request waited
        df = build(list(zip(segment_dirs, versions))).persist(StorageLevel.MEMORY_ONLY)
        entry = _Persisted(versions, df._jdf, f"__{key[0]}_{uuid.uuid4().hex}")
        df.createOrReplaceTempView(entry.view)
        with _SESSION_FRAMES_LOCK:
            frames = _frames(spark)
            if key in frames:
                _evict(spark, frames, key)
            frames[key] = entry
            _evict(spark, frames)
            return entry.view, "build", hold(entry)


def drop_session_frames(spark, segment_dirs: list[str]) -> None:
    """Forget the persisted scans cached for `segment_dirs` in session
    `spark`, as `_evict` does."""
    segs = tuple(segment_dirs)
    with _SESSION_FRAMES_LOCK:
        frames = _frames(spark)
        for key in [k for k in frames if k[1] == segs]:
            _evict(spark, frames, key)


def _task_bound(spark) -> tuple[int, int]:
    """(defaultParallelism, spark.sql.execution.arrow.maxRecordsPerBatch)
    of session `spark`, read once per session."""
    with _SESSION_FRAMES_LOCK:
        bound = _TASK_BOUNDS.get(spark)
    if bound is None:
        batch = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
        bound = (spark.sparkContext.defaultParallelism, int(batch))
        with _SESSION_FRAMES_LOCK:
            _TASK_BOUNDS[spark] = bound
    return bound


def _id_leaf(spark, n: int, tasks: int):
    """The plan numbers 0..n-1 in `tasks` partitions, as a LogicalRDD
    over a range, not the Range itself: a Range reports 8 bytes a row,
    which would let the planner broadcast a whole segment table, while a
    LogicalRDD's size is unknown (spark.sql.defaultSizeInBytes), as a
    segment table's is. A one-task leaf is coalesced to one partition:
    that changes nothing at run time, but the planner then sees a
    SinglePartition, which mapInPandas keeps, so an aggregate over the
    scan needs no exchange."""
    from pyspark.sql import DataFrame

    ids = spark.range(0, n, 1, tasks)._jdf.toDF()
    leaf = DataFrame(spark._jsparkSession.createDataFrame(ids.rdd(), ids.schema()), spark)
    return leaf.coalesce(1) if tasks == 1 else leaf


def map_segments(spark, plans: list, decode, schema: str):
    """mapInPandas `decode(plan) -> pandas.DataFrame` over every plan, a
    tuple led by its segment dir, in

      min(len(plans), defaultParallelism, ceil(rows / maxRecordsPerBatch))

    tasks, where `rows` sums the plans' segment.total.docs (an upper
    bound on what a star-tree scan decodes) and maxRecordsPerBatch is
    Spark's Arrow batch size: the reference's min(#segments, threads)
    pool (CombineOperatorUtils), less the tasks that would decode under
    one batch each. A non-positive batch size (no limit) leaves the
    first two bounds. A one-task scan is a SinglePartition to the
    planner (`_id_leaf`), so an aggregate over it runs in one job with
    no exchange.

    The leaf holds only the plan numbers 0..n-1 and each task decodes
    the plans whose numbers it holds: the plans travel in the task
    closure (PySpark broadcasts a closure past 1 MB), so no shuffle is
    needed to spread them out. The leaf (`_id_leaf`) is planned once per
    session, plan count and task count, and the two bounds are read once
    per session (`_task_bound`); each call pickles only its own closure.
    The frame decodes on every query that runs it, unless it is
    persisted (`session_view`)."""
    cores, batch = _task_bound(spark)
    n = len(plans)
    tasks = min(n, cores)
    if batch > 0:
        rows = sum(read_segment_metadata(p[0]).total_docs for p in plans)
        tasks = max(1, min(tasks, -(-rows // batch)))
    leaf = _session_frame(spark, ("leaf", n, tasks), lambda: _id_leaf(spark, n, tasks))

    def run(batches):
        for pdf in batches:
            for i in pdf["id"]:
                yield decode(plans[i])

    return leaf.mapInPandas(run, schema=schema)


def read_segments(
    spark,
    segment_dirs: list[str],
    columns: list[str] | None = None,
    where: tuple | None = None,
    schema_from: list[str] | None = None,
    bounds: list | None = None,
    residual: str | None = None,
):
    """Segments -> Spark DataFrame, decoded by `map_segments`: the
    surviving segments are numbered and shared out over min(#segments,
    defaultParallelism, ceil(Σ total_docs / Arrow batch size))
    mapInPandas tasks, the reference's min(#segments, threads) operator
    pool (CombineOperatorUtils) less the tasks that would decode under
    one batch each. The
    driver touches only segment metadata (cached, `read_segment_metadata`)
    and index buffers. Every distributed segment decode goes through
    here, apart from the star-tree scan.

    The frame decodes on every query that runs it, so the registered
    view of a segment table shows the segments as they are on disk; the
    dialect's column-pruned scans keep their rows (`scan_view`).

    `where = (col, op, value)` prunes whole segments (metadata min/max +
    bloom + partition) AND filters rows inside the survivors using their
    own indexes — exact results either way.

    `bounds`: index access paths as callables (segment_dir) -> docId
    bound, the reference's AND composition of index-backed filter
    operators, whose docId bitmaps are intersected before any
    forward-index read (FilterOperatorUtils.java:183-220,
    getAndFilterOperator). Per segment, each bound is

      None          -> this access path cannot bound the segment (no
                       index, unsupported shape): contributes nothing
      empty array   -> the segment is pruned entirely
      docId array   -> a (possibly superset) bound; intersected

    and the surviving segments ship ONE roaring-serialized allowlist
    into their decode task, which decodes whole columns and then masks
    them to the allowlist. Planning is O(#segments x #bounds)
    driver-side index reads in a plain loop (the per-segment work holds
    the GIL, so threads would only add hand-offs) — the cost class of the
    reference broker's routing plus per-segment filter planning; the
    allowlists travel in the task closure, never through a shuffle. A
    bound is only ever a superset, so the exact predicate must still run:
    `residual` (a Spark SQL boolean) re-applies after the decode, or
    the caller's own query keeps it.

    Columns the residual names that are missing from `columns` are
    decoded as extras and dropped after the filter, so a projection
    that excludes the predicate column still works.

    `schema_from`: optional unpruned segment list used only to derive the
    schema when `segment_dirs` is empty — the everything-pruned case,
    where the reference's broker returns an empty response rather than an
    error (SegmentPrunerService short-circuit)."""
    if not segment_dirs and not schema_from:
        raise ValueError("no segment directories given")
    first = (segment_dirs or schema_from)[0]
    extras = []
    if residual is not None and columns is not None:
        from hurricanedb_spark.sql.lexer import mask

        named = {w.lower() for w in re.findall(r"\w+", mask(residual))}
        extras = [
            c
            for c in sorted(read_segment_metadata(first).columns)
            if c.lower() in named and c not in columns
        ]
    decode_cols = [*columns, *extras] if extras else columns
    schema = segment_spark_schema(first, decode_cols)
    for conjunct in _normalize_where(where):
        segment_dirs = prune_segments(segment_dirs, *conjunct)

    def plan_for(s):
        import numpy as np

        docs = None
        for bound in bounds:
            d = bound(s)
            if d is None:
                continue
            d = np.asarray(d, dtype=np.uint32)
            docs = d if docs is None else np.intersect1d(docs, d)
            if len(docs) == 0:
                return None  # this bound proves the segment empty
        return (s, None if docs is None else roaring_serialize(docs))

    if bounds:
        plans = [p for p in map(plan_for, segment_dirs) if p is not None]
    else:
        plans = [(s, None) for s in segment_dirs]
    out = _scan(spark, plans, decode_cols, where, schema)
    if residual is not None:
        out = out.filter(residual)
    return out.drop(*extras) if extras else out


def scan_view(spark, segment_dirs: list[str], columns: list[str]):
    """`session_view` over the plain scan of `columns`: the segments are
    decoded once per session and version, and every later query of the
    projection reads Spark's in-memory columnar cache."""

    def build(plans):
        schema = segment_spark_schema(segment_dirs[0], columns)
        return map_segments(
            spark, plans, lambda p: read_segment_pandas(p[0], columns), schema
        )

    key = ("prune_accel", tuple(segment_dirs), tuple(columns))
    return session_view(spark, key, segment_dirs, build)


def _scan(spark, plans: list, columns: list[str] | None, where, schema: str):
    """`map_segments` over (segment_dir, roaring allowlist or None)
    plans; an empty frame of `schema` when no plan is left."""
    if not plans:
        return spark.createDataFrame([], schema)

    def decode(plan):
        p, db = plan
        ids = None if db is None else roaring_deserialize(db)
        return read_segment_pandas(p, columns, where=where, doc_ids=ids)

    return map_segments(spark, plans, decode, schema)


# ---------------------------------------------------------------------------
# writing


def _pack_dict_ids(ids, bits: int) -> bytes:
    import numpy as np

    ids = np.asarray(ids, dtype=np.uint64)
    shifts = np.arange(bits - 1, -1, -1, dtype=np.uint64)
    bit_mat = ((ids[:, None] >> shifts) & np.uint64(1)).astype(np.uint8)
    return np.packbits(bit_mat.ravel()).tobytes()


def _encode_dictionary(values, data_type: str, var_length: bool) -> tuple[bytes, int]:
    """Sorted distinct values -> (dictionary bytes, lengthOfEachEntry)."""
    if data_type in _FIXED_WIDTH:
        fmt = _STRUCT_FMT[data_type]
        return b"".join(struct.pack(fmt, v) for v in values), _FIXED_WIDTH[data_type]
    enc = [v.encode("utf-8") for v in values]
    width = max((len(b) for b in enc), default=0)
    # fixed-width entries are '\0'-padded and unpadded by rstrip on read,
    # so a value with a trailing NUL byte is unrepresentable there (the
    # reference rejects values containing the padding character); the
    # var-length layout carries explicit lengths and has no such limit
    if any(b.endswith(PAD_CHAR) for b in enc):
        var_length = True
    if var_length:
        header = VAR_LENGTH_MAGIC + struct.pack(">iii", 1, len(enc), 16)
        off = 16 + 4 * (len(enc) + 1)
        offsets = [off]
        for b in enc:
            off += len(b)
            offsets.append(off)
        return (
            header + struct.pack(f">{len(enc) + 1}i", *offsets) + b"".join(enc),
            width,
        )
    return b"".join(b.ljust(width, PAD_CHAR) for b in enc), width


def write_segment_pandas(
    pdf,
    segment_dir: str,
    table_name: str = "segment_export",
    segment_name: str | None = None,
    time_column: str | None = None,
    var_length_string_dicts: bool = False,
    raw_columns: dict[str, str] | None = None,
    raw_writer_versions: dict[str, int] | None = None,
    inverted_index_columns: list[str] | None = None,
    bloom_filter_columns: list[str] | None = None,
    bloom_fpp: float = 0.05,
    range_index_columns: list[str] | None = None,
    partition_config: dict[str, tuple[str, int]] | None = None,
    json_index_columns: list[str] | None = None,
    text_index_columns: list[str] | None = None,
    fst_index_columns: list[str] | None = None,
    geo_index_columns: dict[str, int] | None = None,
    star_tree_specs: list | None = None,
    layout: str = "v3",
) -> str:
    """Write a pandas DataFrame as one v3 segment directory (SV and MV
    INT/LONG/FLOAT/DOUBLE/STRING; SV nulls become FieldSpec defaults +
    a null-value vector). `raw_columns` maps column name -> chunk
    compression (PASS_THROUGH, SNAPPY, ZSTANDARD, LZ4,
    LZ4_LENGTH_PREFIXED) to store that SV or MV column as a raw
    (noDictionary) chunk container instead of dictionary-encoded (MV
    cells become [numValues][values...] var-byte entries, the
    Fixed/VarByteChunkMVForwardIndexReader layouts).
    `raw_writer_versions` maps a raw STRING SV column to a chunk
    container version (2/3 classic, 4 =
    VarByteChunkSVForwardIndexWriterV4's LE relocated-offset layout).
    `inverted_index_columns` additionally writes a bitmap inverted
    index (one RoaringBitmap of docIds per dictId) for those
    dictionary-encoded columns. `bloom_filter_columns` writes a
    guava-format bloom filter over the distinct values of STRING / INT /
    LONG dictionary columns (float/double excluded: the funnel
    stringifies values and Java float formatting differs from Python's).
    Returns the segment directory path."""
    import numpy as np
    import pandas as pd

    num_docs = len(pdf)
    if num_docs == 0:
        raise ValueError("cannot write an empty segment")
    segment_name = segment_name or os.path.basename(os.path.normpath(segment_dir))
    if layout not in ("v3", "v1"):
        raise ValueError(f"unknown segment layout {layout!r}")
    d = segment_dir if layout == "v1" else os.path.join(segment_dir, V3_SUBDIR)
    os.makedirs(d, exist_ok=True)

    psf_parts: list[bytes] = []
    map_lines: list[str] = []
    offset = 0

    def append_entry(col: str, idx_name: str, payload: bytes, ext: str | None = None):
        nonlocal offset
        if layout == "v1":
            # pre-v3 layout: one standalone file per index, no markers
            ext = ext or _V1_INDEX_FILES[idx_name][0]
            with open(os.path.join(d, col + ext), "wb") as f:
                f.write(payload)
            return
        size = len(payload) + 8
        map_lines.append(f"{col}.{idx_name}.startOffset = {offset}")
        map_lines.append(f"{col}.{idx_name}.size = {size}")
        psf_parts.append(struct.pack(">Q", MAGIC_MARKER) + payload)
        offset += size

    prop_lines = [
        "segment.name = " + _props_escape(segment_name),
        "segment.table.name = " + _props_escape(table_name),
        f"segment.index.version = {layout}",
        f"segment.total.docs = {num_docs}",
        "segment.padding.character = \\u0000",
    ]
    if time_column is not None:
        prop_lines.append("segment.time.column.name = " + _props_escape(time_column))
        tser = pdf[time_column]
        if tser.notna().all() and tser.dtype.kind in "iu":
            # epoch-millis time column: segment time range + unit
            # (V1Constants.MetadataKeys.Segment START/END_TIME, TIME_UNIT)
            prop_lines += [
                f"segment.start.time = {int(tser.min())}",
                f"segment.end.time = {int(tser.max())}",
                "segment.time.unit = MILLISECONDS",
            ]

    def _min_max_lines(ck: str, data_type: str, mn, mx) -> list[str]:
        # SegmentColumnarIndexCreator.java:914-925: write minValue/maxValue,
        # or flag MIN_MAX_VALUE_INVALID when the value can't be stored as a
        # clean property string
        if data_type == "STRING":
            for v in (mn, mx):
                if len(v) > 512 or any(ord(c) < 0x20 for c in v):
                    return [f"{ck}minMaxValueInvalid = true"]
            return [
                f"{ck}minValue = {_props_escape(mn)}",
                f"{ck}maxValue = {_props_escape(mx)}",
            ]
        if data_type in ("INT", "LONG"):
            return [f"{ck}minValue = {int(mn)}", f"{ck}maxValue = {int(mx)}"]
        return [f"{ck}minValue = {float(mn)!r}", f"{ck}maxValue = {float(mx)!r}"]

    def _elem_type(arr) -> str:
        kind = arr.dtype.kind
        if kind in "iu":
            return "LONG" if arr.dtype.itemsize > 4 else "INT"
        if kind == "f":
            return "DOUBLE" if arr.dtype.itemsize > 4 else "FLOAT"
        return "STRING"

    for col in pdf.columns:
        ser = pdf[col]
        first = ser.dropna().iloc[0] if ser.notna().any() else None
        is_mv = isinstance(first, (list, tuple, np.ndarray))
        ck = f"column.{col}."
        requested_value_indexes = [
            name
            for name, cols in (
                ("text", text_index_columns),
                ("fst", fst_index_columns),
                ("json", json_index_columns),
                ("geo", geo_index_columns),
            )
            if cols and col in cols
        ]
        if is_mv:
            if requested_value_indexes:
                # NativeTextIndexCreator.add(String[], int) throws:
                # "Native text index is not supported on MV column";
                # fst/json likewise require SV STRING — fail loudly
                # instead of silently writing no index (round-6 review)
                raise UnsupportedSegmentError(
                    f"{'/'.join(requested_value_indexes)} index is not "
                    f"supported on MV column {col!r}"
                )
            if ser.isna().any() or any(len(a) == 0 for a in ser):
                raise ValueError(
                    f"MV column {col!r} has null/empty cells — the reference "
                    "ingests those as [defaultNullValue]; fill first"
                )
            lengths = np.array([len(a) for a in ser], dtype=np.int64)
            flat = np.concatenate([np.asarray(a) for a in ser])
            if flat.dtype.kind == "O" or flat.dtype.kind == "U":
                data_type = "STRING"
                flat = flat.astype(str)
            else:
                data_type = _elem_type(flat)
            if raw_columns and col in raw_columns:
                # raw (noDictionary) MV forward index
                if (raw_writer_versions or {}).get(col, 3) >= 4:
                    # VarByteChunkForwardIndexWriterV4 MV layout is not
                    # implemented — fail loudly instead of silently
                    # writing a v3 container (round-6 advice)
                    raise UnsupportedSegmentError(
                        f"raw MV column {col!r}: writer version 4 is not "
                        "implemented for MV forward indexes (v3 only)"
                    )
                if data_type == "STRING":
                    cells = [[str(x) for x in a] for a in ser]
                    entry_len = max(
                        len(_mv_entry_bytes(c, "STRING")) for c in cells
                    )
                else:
                    cells = [np.asarray(a) for a in ser]
                    entry_len = 4 + int(lengths.max()) * _FIXED_WIDTH[data_type]
                append_entry(
                    col,
                    "forward_index",
                    _encode_raw_mv(cells, data_type, raw_columns[col]),
                    ext=".mv.raw.fwd",
                )
                uniq = np.unique(flat)
                prop_lines += [
                    f"{ck}cardinality = {len(uniq)}",
                    f"{ck}totalDocs = {num_docs}",
                    f"{ck}dataType = {data_type}",
                    f"{ck}bitsPerElement = 0",
                    f"{ck}lengthOfEachEntry = {entry_len}",
                    f"{ck}columnType = DIMENSION",
                    f"{ck}isSorted = false",
                    f"{ck}hasDictionary = false",
                    f"{ck}isSingleValues = false",
                    f"{ck}maxNumberOfMultiValues = {int(lengths.max())}",
                    f"{ck}totalNumberOfEntries = {int(lengths.sum())}",
                    f"{ck}isAutoGenerated = false",
                ] + _min_max_lines(ck, data_type, uniq[0], uniq[-1])
                continue
            uniq, inverse = np.unique(flat, return_inverse=True)
            bits = bits_per_element(len(uniq))
            dict_bytes, entry_len = _encode_dictionary(
                uniq.tolist(),
                data_type,
                var_length_string_dicts and data_type == "STRING",
            )
            append_entry(col, "dictionary", dict_bytes)
            bounds = np.concatenate(([0], np.cumsum(lengths)))
            doc_arrays = [inverse[bounds[i] : bounds[i + 1]] for i in range(num_docs)]
            append_entry(
                col, "forward_index", _encode_mv_fwd(doc_arrays, bits),
                ext=".mv.fwd",
            )
            if inverted_index_columns and col in inverted_index_columns:
                doc_of_value = np.repeat(
                    np.arange(num_docs, dtype=np.int64), lengths
                )
                append_entry(
                    col,
                    "inverted_index",
                    _encode_inverted_index(
                        _group_docs_by_dict(inverse, doc_of_value, len(uniq))
                    ),
                )
            prop_lines += [
                f"{ck}cardinality = {len(uniq)}",
                f"{ck}totalDocs = {num_docs}",
                f"{ck}dataType = {data_type}",
                f"{ck}bitsPerElement = {bits}",
                f"{ck}lengthOfEachEntry = {entry_len}",
                f"{ck}columnType = DIMENSION",
                f"{ck}isSorted = false",
                f"{ck}hasDictionary = true",
                f"{ck}isSingleValues = false",
                f"{ck}maxNumberOfMultiValues = {int(lengths.max())}",
                f"{ck}totalNumberOfEntries = {int(lengths.sum())}",
                f"{ck}isAutoGenerated = false",
            ] + _min_max_lines(ck, data_type, uniq[0], uniq[-1])
            continue
        null_mask = ser.isna().to_numpy()
        kind = ser.dtype.kind
        if kind in "iu":
            data_type = "LONG" if ser.dtype.itemsize > 4 else "INT"
        elif kind == "f":
            data_type = "DOUBLE" if ser.dtype.itemsize > 4 else "FLOAT"
        elif kind == "O":
            data_type = "STRING"
        else:
            raise UnsupportedSegmentError(
                f"column {col!r} dtype {ser.dtype} is outside writer scope"
            )
        if null_mask.any():
            # FieldSpec default null values + a null-value vector
            ser = ser.fillna(NULL_DEFAULTS[data_type])
        if data_type == "STRING":
            vals = ser.astype(str).to_numpy()
        else:
            np_t = {
                "INT": np.int32,
                "LONG": np.int64,
                "FLOAT": np.float32,
                "DOUBLE": np.float64,
            }[data_type]
            vals = ser.to_numpy(dtype=np_t)
        if raw_columns and col in raw_columns:
            if requested_value_indexes:
                # these indexes attach to the dictionary path (the
                # reference's creators consume dictionary values /
                # analyzed docs); a raw column would silently get none —
                # fail loudly instead (round-6 review finding)
                raise UnsupportedSegmentError(
                    f"{'/'.join(requested_value_indexes)} index requested "
                    f"for raw (noDictionary) column {col!r} — store the "
                    "column dictionary-encoded to index it"
                )
            compression = raw_columns[col]
            entry_len = (
                max((len(v.encode("utf-8")) for v in vals), default=0)
                if data_type == "STRING"
                else _FIXED_WIDTH[data_type]
            )
            writer_version = (raw_writer_versions or {}).get(col, 3)
            if writer_version >= 4:
                if data_type != "STRING":
                    raise UnsupportedSegmentError(
                        f"V4 chunk writer is var-byte only; column {col!r} "
                        f"is {data_type}"
                    )
                fwd_bytes = _encode_raw_sv_v4(vals.tolist(), compression)
            else:
                fwd_bytes = _encode_raw_sv(
                    vals.tolist() if data_type == "STRING" else vals,
                    data_type,
                    compression,
                )
            append_entry(col, "forward_index", fwd_bytes, ext=".sv.raw.fwd")
            if null_mask.any():
                append_entry(
                    col,
                    "nullvalue_vector",
                    roaring_serialize(np.nonzero(null_mask)[0]),
                )
            prop_lines += [
                f"{ck}cardinality = {len(np.unique(vals))}",
                f"{ck}totalDocs = {num_docs}",
                f"{ck}dataType = {data_type}",
                f"{ck}bitsPerElement = 0",
                f"{ck}lengthOfEachEntry = {entry_len}",
                f"{ck}columnType = METRIC",
                f"{ck}isSorted = false",
                f"{ck}hasDictionary = false",
                f"{ck}isSingleValues = true",
                f"{ck}maxNumberOfMultiValues = 0",
                f"{ck}totalNumberOfEntries = {num_docs}",
                f"{ck}isAutoGenerated = false",
            ] + _min_max_lines(
                ck,
                data_type,
                min(vals) if data_type == "STRING" else vals.min(),
                max(vals) if data_type == "STRING" else vals.max(),
            )
            continue
        uniq, inverse = np.unique(vals, return_inverse=True)
        cardinality = len(uniq)
        bits = bits_per_element(cardinality)
        is_sorted = bool(np.all(vals[:-1] <= vals[1:])) if num_docs > 1 else True
        dict_bytes, entry_len = _encode_dictionary(
            uniq.tolist(), data_type, var_length_string_dicts and data_type == "STRING"
        )
        append_entry(col, "dictionary", dict_bytes)
        if is_sorted:
            # sorted column: (minDocId, maxDocId) per dictId
            firsts = np.searchsorted(vals, uniq, side="left")
            lasts = np.searchsorted(vals, uniq, side="right") - 1
            fwd = b"".join(
                struct.pack(">ii", int(a), int(b)) for a, b in zip(firsts, lasts)
            )
        else:
            fwd = _pack_dict_ids(inverse, bits)
        append_entry(
            col, "forward_index", fwd,
            ext=".sv.sorted.fwd" if is_sorted else ".sv.unsorted.fwd",
        )
        if inverted_index_columns and col in inverted_index_columns:
            append_entry(
                col,
                "inverted_index",
                _encode_inverted_index(
                    _group_docs_by_dict(
                        inverse, np.arange(num_docs, dtype=np.int64), cardinality
                    )
                ),
            )
        if partition_config and col in partition_config:
            # ColumnPartitionMetadata: the partitions actually present,
            # under the named reference partition function — enables
            # equality pruning by any compatible reader
            from hurricanedb_spark.sources.partition_functions import partition_of

            fn_name, n_parts = partition_config[col]
            if data_type not in ("STRING", "INT", "LONG"):
                raise UnsupportedSegmentError(
                    f"partition metadata on {data_type} column {col!r}: "
                    "float stringification is not portable"
                )
            pids = sorted(
                {
                    partition_of(
                        v if data_type == "STRING" else int(v), fn_name, n_parts
                    )
                    for v in uniq
                }
            )
            prop_lines += [
                f"{ck}partitionFunction = {fn_name}",
                f"{ck}numPartitions = {n_parts}",
                f"{ck}partitionValues = " + ",".join(str(p) for p in pids),
            ]
        if json_index_columns and col in json_index_columns:
            if data_type != "STRING":
                raise UnsupportedSegmentError(
                    f"json index on non-STRING column {col!r}"
                )
            from hurricanedb_spark.sources.json_index import encode_json_index

            append_entry(
                col,
                "json_index",
                encode_json_index(
                    None if null_mask[i] else vals[i] for i in range(num_docs)
                ),
                ext=".json.idx",
            )
        if text_index_columns and col in text_index_columns:
            # native text index: FSA5 FST + posting lists
            # (NativeTextIndexCreator.java; MV rejected like the reference)
            if data_type != "STRING":
                raise UnsupportedSegmentError(
                    f"native text index on non-STRING column {col!r}"
                )
            from hurricanedb_spark.sources.native_text_index import (
                encode_native_text_index,
            )

            append_entry(
                col,
                "text_index",
                encode_native_text_index(
                    None if null_mask[i] else vals[i] for i in range(num_docs)
                ),
                ext=".nativetext.idx",
            )
        if fst_index_columns and col in fst_index_columns:
            # FST index over the sorted dictionary values, dictId outputs
            # (NativeFSTIndexCreator.java:49-60 — entries MUST arrive in
            # sorted dictionary order, which uniq already is)
            if data_type != "STRING":
                raise UnsupportedSegmentError(
                    f"FST index on non-STRING column {col!r}"
                )
            from hurricanedb_spark.sources.native_text_index import (
                serialize_fst,
            )

            append_entry(
                col,
                "fst_index",
                serialize_fst([(v, i) for i, v in enumerate(uniq)]),
                ext=".lucene.fst",
            )
        if geo_index_columns and col in geo_index_columns:
            # geo grid index over WKT points — the H3 index analog
            # (H3IndexCreator; sources/geo_index.py documents the layout)
            if data_type != "STRING":
                raise UnsupportedSegmentError(
                    f"geo index on non-STRING (WKT) column {col!r}"
                )
            from hurricanedb_spark.sources.geo_index import encode_geo_index

            append_entry(
                col,
                "h3_index",
                encode_geo_index(
                    (None if null_mask[i] else vals[i] for i in range(num_docs)),
                    int(geo_index_columns[col]),
                ),
                ext=".h3.idx",
            )
        if range_index_columns and col in range_index_columns:
            # dictionary columns index dictIds (valueType INT) — dictIds
            # are sorted by value, so value ranges map to dictId ranges
            append_entry(
                col,
                "range_index",
                _encode_range_index(
                    inverse.astype(np.int32),
                    np.arange(num_docs, dtype=np.int64),
                    "INT",
                ),
            )
        if bloom_filter_columns and col in bloom_filter_columns:
            if data_type not in ("STRING", "INT", "LONG"):
                raise UnsupportedSegmentError(
                    f"bloom filter on {data_type} column {col!r}: the "
                    "stringified funnel is not portable for floats"
                )
            strs = (
                uniq.tolist()
                if data_type == "STRING"
                else [str(int(v)) for v in uniq]
            )
            append_entry(col, "bloom_filter", bloom_serialize(strs, bloom_fpp))
        if null_mask.any():
            append_entry(
                col, "nullvalue_vector", roaring_serialize(np.nonzero(null_mask)[0])
            )
        prop_lines += [
            f"{ck}cardinality = {cardinality}",
            f"{ck}totalDocs = {num_docs}",
            f"{ck}dataType = {data_type}",
            f"{ck}bitsPerElement = {bits}",
            f"{ck}lengthOfEachEntry = {entry_len}",
            f"{ck}columnType = DIMENSION",
            f"{ck}isSorted = {'true' if is_sorted else 'false'}",
            f"{ck}hasDictionary = true",
            f"{ck}isSingleValues = true",
            f"{ck}maxNumberOfMultiValues = 0",
            f"{ck}totalNumberOfEntries = {num_docs}",
            f"{ck}isAutoGenerated = false",
        ] + _min_max_lines(ck, data_type, uniq[0], uniq[-1])

    psf = b"".join(psf_parts)
    if layout == "v3":
        with open(os.path.join(d, INDEX_FILE), "wb") as f:
            f.write(psf)
        with open(os.path.join(d, INDEX_MAP_FILE), "w", encoding="utf-8") as f:
            f.write("\n".join(map_lines) + "\n")
    with open(os.path.join(d, METADATA_FILE), "w", encoding="utf-8") as f:
        f.write("\n".join(prop_lines) + "\n")
    with open(os.path.join(d, CREATION_META_FILE), "wb") as f:
        f.write(struct.pack(">qq", zlib.crc32(psf), int(time.time() * 1000)))
    if star_tree_specs:
        # per-segment star-trees built in the SAME task as the segment —
        # the reference's build unit (StarTreeV2BuilderConfig applies on
        # the server building each segment), and the scale path for
        # export_segments: no driver-side pdf round trip
        if layout != "v3":
            raise UnsupportedSegmentError(
                "star-tree build requires the v3 layout"
            )
        from hurricanedb_spark.sources.startree_v2 import _parse_pair, write_star_trees

        for spec in star_tree_specs:
            involved = set(spec.split_order) | {
                c for _, c in map(_parse_pair, spec.function_column_pairs)
                if c != "*"
            }
            for c in involved:
                if c not in pdf.columns:
                    raise UnsupportedSegmentError(
                        f"star-tree spec references missing column {c!r}"
                    )
                if pdf[c].isna().any():
                    # tree dictIds must equal the column dictionary built
                    # from default-filled values; a null column would
                    # diverge (and the SQL redirect refuses null-vector
                    # columns anyway) — fill first
                    raise UnsupportedSegmentError(
                        f"star-tree column {c!r} has nulls — fill before "
                        "building (the redirect requires exact NULL "
                        "semantics from the scan path)"
                    )
        write_star_trees(segment_dir, pdf, star_tree_specs)
    return segment_dir


def export_segments(
    df,
    out_dir: str,
    table_name: str = "segment_export",
    segment_prefix: str = "segment",
    time_column: str | None = None,
    **writer_options,
) -> list[str]:
    """Spark DataFrame -> one v3 segment per partition (shuffle-free;
    each task writes its own segment to shared storage). Returns the
    written segment paths.

    `writer_options` pass through to write_segment_pandas in every task
    (raw_columns / raw_writer_versions / inverted_index_columns /
    bloom_filter_columns / range_index_columns / json_index_columns /
    partition_config / var_length_string_dicts / layout) — the
    reference's SegmentGeneratorConfig applies per segment on the server
    building it, and the same holds here: each task builds its own
    segment's dictionaries and indexes from its partition alone, so the
    distributed build stays shuffle-free at any table size."""
    from pyspark.sql import functions as F

    def write_part(batches):
        import pandas as pd

        parts = []
        for pdf in batches:
            if not pdf.empty:
                parts.append(pdf)
        if parts:
            pdf = pd.concat(parts, ignore_index=True)
            pid = int(pdf["__pid"].iloc[0])
            pdf = pdf.drop(columns="__pid")
            name = f"{segment_prefix}_{pid:05d}"
            write_segment_pandas(
                pdf,
                os.path.join(out_dir, name),
                table_name,
                name,
                time_column=time_column,
                **writer_options,
            )
            yield pd.DataFrame({"segment": [os.path.join(out_dir, name)]})

    os.makedirs(out_dir, exist_ok=True)
    manifest = df.withColumn("__pid", F.spark_partition_id()).mapInPandas(
        write_part, schema="segment string"
    )
    return [r["segment"] for r in manifest.collect()]
