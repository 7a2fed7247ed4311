"""JSON index — the reference's `.json.idx` structure in its binary
format.

Layout (BaseJsonIndexCreator.java:46-56, 135-160, read by
ImmutableJsonIndexReader.java:56-78): a 32-byte big-endian header
(int version=2 | int maxValueLength | long dictionaryLength | long
invertedIndexLength | long docIdMappingLength), then a var-length
string dictionary (VarLengthValueWriter format) of the sorted posting
keys, a bitmap inverted index (BitmapInvertedIndexWriter layout:
offsets + serialized RoaringBitmaps) with one posting list per
dictionary entry over FLATTENED doc ids, and a little-endian int32
mapping from flattened doc id to original doc id.

Posting keys (BaseJsonIndexCreator.addFlattenedRecords:100-116): for
every flattened record, both the bare key (existence checks) and
`key + '\\0' + value` are posted. Flattening
(JsonUtils.flatten:353-514, VERSION_2 semantics): a scalar node yields
{"": text}; arrays unnest into one record per element with keys
prefixed by '.' plus an ".$index" entry; object fields prefix '.' +
field; multiple array-valued fields cross-product by default.

Queries (ImmutableJsonIndexReader.getMatchingFlattenedDocIds:151-205):
a JSONPath key drops the leading '$' (legacy keys gain a leading '.'),
each "[n]" adds an `leftPart + ".$index" + '\\0' + n` conjunct and
becomes '.', "[*]" just becomes '.'; the final key (with '\\0' + value
for equality, bare for existence) looks up the dictionary, and the
flattened matches AND together, then map to real doc ids.

Caveat: scalar rendering follows JSON text (Jackson asText) — ints and
strings are portable; float rendering differs between Java and Python
(Double.toString vs repr), so float VALUES match only within one
runtime. The engine-side JSON_MATCH semantics (sql/json_match.py) are
authoritative; this index is the interop acceleration artifact.
"""

from __future__ import annotations

import json
import struct

VERSION_2 = 2
HEADER_LENGTH = 32
KEY_VALUE_SEPARATOR = "\0"
ARRAY_INDEX_KEY = ".$index"


def _as_text(v) -> str:
    """Jackson JsonNode.asText for scalars."""
    if v is True:
        return "true"
    if v is False:
        return "false"
    if isinstance(v, float):
        # portable only for round floats; documented caveat
        return repr(v)
    return str(v)


def flatten_json(node) -> list[dict[str, str]]:
    """JsonUtils.flatten (VERSION_2, default JsonIndexConfig: unlimited
    levels, arrays included, cross-array unnest)."""
    if node is None:
        return []
    if not isinstance(node, (dict, list)):
        return [{"": _as_text(node)}]
    if isinstance(node, list):
        if not node:
            return []
        results = []
        for i, child in enumerate(node):
            for cr in flatten_json(child):
                r = {"." + k: v for k, v in cr.items()}
                r[ARRAY_INDEX_KEY] = str(i)
                results.append(r)
        return results
    non_nested: dict[str, str] = {}
    nested: list[list[dict[str, str]]] = []
    for field, child in node.items():
        crs = flatten_json(child)
        if not crs:
            continue
        prefix = "." + field
        if len(crs) == 1:
            for k, v in crs[0].items():
                non_nested[prefix + k] = v
        else:
            nested.append([{prefix + k: v for k, v in cr.items()} for cr in crs])
    if not nested:
        return [non_nested] if non_nested else []
    if len(nested) == 1:
        return [{**nr, **non_nested} for nr in nested[0]]
    # cross-array unnest: one record per combination
    results = [dict(x) for x in nested[0]]
    for lst in nested[1:]:
        results = [{**a, **b} for a in results for b in lst]
    return [{**r, **non_nested} for r in results]


def encode_json_index(json_strings) -> bytes:
    """Documents (JSON strings / None) -> `.json.idx` bytes."""
    from hurricanedb_spark.sources.pinot_segment import (
        _encode_dictionary,
        _encode_inverted_index,
    )

    postings: dict[str, list[int]] = {}
    doc_id_mapping: list[int] = []
    flattened_id = 0
    for doc_id, s in enumerate(json_strings):
        records = [] if s is None else flatten_json(json.loads(s))
        for record in records:
            for k, v in record.items():
                postings.setdefault(k, []).append(flattened_id)
                postings.setdefault(k + KEY_VALUE_SEPARATOR + v, []).append(
                    flattened_id
                )
            doc_id_mapping.append(doc_id)
            flattened_id += 1
    keys = sorted(postings)  # TreeMap order
    max_value_length = max((len(k.encode("utf-8")) for k in keys), default=0)
    dict_bytes, _w = _encode_dictionary(keys, "STRING", var_length=True)
    inv_bytes = _encode_inverted_index(
        [sorted(set(postings[k])) for k in keys]
    )
    mapping = struct.pack(f"<{len(doc_id_mapping)}i", *doc_id_mapping)
    header = struct.pack(
        ">iiqqq", VERSION_2, max_value_length, len(dict_bytes), len(inv_bytes),
        len(mapping),
    )
    return header + dict_bytes + inv_bytes + mapping


class JsonIndex:
    """Parsed `.json.idx` buffer with the reader's query semantics."""

    def __init__(self, buf: bytes):
        version, self.max_value_length = struct.unpack_from(">ii", buf, 0)
        if version != VERSION_2:
            raise ValueError(f"unsupported json index version {version}")
        dict_len, inv_len, map_len = struct.unpack_from(">qqq", buf, 8)
        pos = HEADER_LENGTH
        self._dict_buf = buf[pos : pos + dict_len]
        pos += dict_len
        self._inv_buf = buf[pos : pos + inv_len]
        pos += inv_len
        import numpy as np

        self._mapping = np.frombuffer(
            buf, dtype="<i4", count=map_len // 4, offset=pos
        )
        # var-length dictionary: ".vl;" header + offsets + bytes
        magic = self._dict_buf[:4]
        if magic != b".vl;":
            raise ValueError("json index dictionary is not var-length format")
        _ver, self._n_keys, data_off = struct.unpack_from(">iii", self._dict_buf, 4)
        self._offsets = struct.unpack_from(
            f">{self._n_keys + 1}i", self._dict_buf, data_off
        )
        # parse the inverted-index offset table once: lookups would
        # otherwise re-unpack O(n_keys) ints per posting access
        self._inv_offsets = struct.unpack_from(
            f">{self._n_keys + 1}i", self._inv_buf, 0
        )

    def _key_at(self, i: int) -> str:
        return self._dict_buf[self._offsets[i] : self._offsets[i + 1]].decode(
            "utf-8"
        )

    def _dict_id(self, key: str) -> int:
        lo, hi = 0, self._n_keys - 1
        while lo <= hi:
            mid = (lo + hi) // 2
            k = self._key_at(mid)
            if k == key:
                return mid
            if k < key:
                lo = mid + 1
            else:
                hi = mid - 1
        return -1

    def _posting(self, key: str):
        import numpy as np

        from hurricanedb_spark.sources.pinot_segment import roaring_deserialize

        i = self._dict_id(key)
        if i < 0:
            return np.empty(0, dtype=np.uint32)
        offs = self._inv_offsets
        return roaring_deserialize(self._inv_buf[offs[i] : offs[i + 1]])

    def matching_flattened(self, key: str, value: str | None):
        """Flattened docIds for one predicate, applying the reader's
        V2 key normalization (leading '$', array indices, wildcards)."""
        import numpy as np

        if key.startswith("$"):
            key = key[1:]
        else:
            key = "." + key
        matching = None
        while (lb := key.find("[")) >= 0:
            rb = key.find("]", lb + 1)
            if rb < 0:
                raise ValueError(f"missing right bracket in key {key!r}")
            left, idx, right = key[:lb], key[lb + 1 : rb], key[rb + 1 :]
            if idx != "*":
                docs = self._posting(
                    left + ARRAY_INDEX_KEY + KEY_VALUE_SEPARATOR + idx
                )
                matching = (
                    docs
                    if matching is None
                    else np.intersect1d(matching, docs, assume_unique=True)
                )
                if len(matching) == 0:
                    return matching
            key = left + "." + right
        final = key if value is None else key + KEY_VALUE_SEPARATOR + value
        docs = self._posting(final)
        if matching is None:
            return docs
        import numpy as np

        return np.intersect1d(matching, docs, assume_unique=True)

    def matching_docs(self, predicates: list[tuple[str, str | None]]):
        """Real docIds matching ALL (key, value) predicates; value None
        = key-exists."""
        import numpy as np

        flat = None
        for key, value in predicates:
            m = self.matching_flattened(key, value)
            flat = m if flat is None else np.intersect1d(flat, m, assume_unique=True)
            if len(flat) == 0:
                break
        if flat is None or len(flat) == 0:
            return np.empty(0, dtype=np.int64)
        return np.unique(self._mapping[flat.astype(np.int64)]).astype(np.int64)


def read_json_index(segment_dir: str, col: str) -> JsonIndex:
    from hurricanedb_spark.sources.pinot_segment import (
        _index_buffer,
        _read_psf,
        read_segment_metadata,
    )

    meta = read_segment_metadata(segment_dir)
    return JsonIndex(_index_buffer(meta, _read_psf(meta), col, "json_index"))


# ---------------------------------------------------------------------------
# JSON_MATCH acceleration over segment stores

import re as _re

_IDX_TERM = _re.compile(
    r"""^\s*"(?P<path>\$[^"]*)"\s*
    (?:
        (?P<notnull>IS\s+NOT\s+NULL)
      | =\s*'(?P<lit>(?:[^']|'')*)'
    )\s*$""",
    _re.IGNORECASE | _re.VERBOSE,
)


def index_supported_conjunction(condition: str):
    """Parse a JSON_MATCH condition into index-answerable (key, value)
    predicates, or None when any part needs expression evaluation.

    Supported: a top-level AND conjunction of `"$.path" = 'string'`
    terms — exactly what the posting lists store. Everything else falls
    back to the expression path, because pruning may NEVER drop a row
    the exact filter would keep:

      * numeric comparisons: the index stores Jackson-stringified
        values, so `"$.k" = 5` must match a document holding 5.0 under
        expression semantics (CAST AS DOUBLE) while the posting for '5'
        would miss it;
      * `IS NOT NULL`: the bare-key posting exists only for SCALAR
        leaves (flatten posts '.nested.city', never '.nested'), while
        get_json_object returns the serialized object/array for
        non-leaf paths — an object-valued path would be wrongly pruned
        (round-6 review finding, reproduced);
      * equality with a literal that is itself JSON-object/array text:
        same non-leaf mismatch (the expression can match the serialized
        form, the index has no such posting);
      * OR / NOT / ranges (BaseJsonIndexReader evaluates those by
        dictionary scan; the expression path is our equivalent)."""
    cond = condition.strip()
    if cond.startswith("'") and cond.endswith("'"):
        cond = cond[1:-1].replace("''", "'")
    if "(" in cond or ")" in cond:
        return None
    if _re.search(r"\bOR\b|\bNOT\b", cond, _re.IGNORECASE):
        return None
    preds: list[tuple[str, str | None]] = []
    for term in _re.split(r"\bAND\b", cond, flags=_re.IGNORECASE):
        m = _IDX_TERM.match(term)
        if not m or m.group("notnull"):
            return None
        lit = m.group("lit").replace("''", "'")
        if lit.lstrip()[:1] in ("{", "["):
            return None  # may target a non-leaf path's serialized form
        preds.append((m.group("path"), lit))
    return preds or None


def json_match_segment_docs(segment_dir: str, col: str, condition: str):
    """Per-segment docId bound for one JSON_MATCH conjunct: None = no
    index support for this condition / no readable index (full decode),
    else the sorted docId array — possibly empty, meaning the segment
    is pruned entirely. The unit read_segments' `bounds` intersect
    (FilterOperatorUtils.java:183-220)."""
    preds = index_supported_conjunction(condition)
    if preds is None:
        return None
    try:
        idx = read_json_index(segment_dir, col)
    except Exception:  # noqa: BLE001 — no/unreadable index: full decode
        return None
    return idx.matching_docs(preds)


def read_segments_json_match(
    spark,
    segment_dirs: list[str],
    col: str,
    condition: str,
    columns: list[str] | None = None,
):
    """JSON_MATCH-accelerated distributed segment scan.

    For an index-supported conjunction, each segment's `.json.idx`
    resolves the posting intersection up front: segments with zero
    matching docs are skipped entirely (never decoded), and survivors
    ship their roaring-serialized docId allowlist into the decode task,
    which drops non-matching rows before they ever leave the segment.
    The exact translated expression still applies as a residual filter,
    so results are identical to the pure expression path whether or not
    an index exists (segments without a json index decode fully and rely
    on the residual alone)."""
    from hurricanedb_spark.sources.pinot_segment import read_segments
    from hurricanedb_spark.sql.json_match import translate_json_match

    return read_segments(
        spark,
        segment_dirs,
        columns,
        bounds=[lambda s: json_match_segment_docs(s, col, condition)],
        residual=translate_json_match(col, condition),
    )
