"""Pinot IdSet wire format — byte-compatible encode/decode.

The reference serializes ID_SET(...) aggregate results (and the
IN_SUBQUERY protocol's shipped literals) as one of four structures
behind a 1-byte type tag
(pinot-core/.../query/utils/idset/IdSet.java:30-35 — ids are part of
the wire contract):

  0 EMPTY                   no payload (EmptyIdSet.java)
  1 ROARING_BITMAP          portable RoaringBitmap bytes, built by plain
                            adds — never run-optimized
                            (RoaringBitmapIdSet.java:40-48)
  2 ROARING_64_NAVIGABLE_MAP Roaring64NavigableMap legacy serialization:
                            1-byte signed flag, big-endian key count,
                            then per high-32 key: big-endian int key +
                            portable RoaringBitmap of the low 32 bits
                            (Roaring64NavigableMapIdSet.java:41-50)
  3 BLOOM_FILTER            1-byte funnel tag (INT=0 LONG=1 STRING=2
                            BYTES=3) + guava BloomFilter.writeTo bytes
                            (BloomFilterIdSet.java:34-56,150-162)

Type selection (IdSets.java:60-78): INT -> roaring, LONG -> roaring64,
FLOAT/DOUBLE/STRING/BYTES -> bloom (floats/doubles enter the bloom by
RAW BITS through the int/long funnels, BloomFilterIdSet.java:88-96);
sizeThresholdInBytes <= 0 forces bloom, and an exact set whose
serialized size exceeds the threshold converts to bloom
(IdSets.java:96-137 merge/convert; defaults 8 MiB threshold, 5M
expected insertions, fpp 0.03).

Guava funnel byte encodings (what murmur3-128 actually hashes):
integerFunnel = 4 bytes little-endian; longFunnel = 8 bytes LE;
unencodedCharsFunnel = UTF-16LE code units; byteArrayFunnel = raw.
The bloom bit algebra is the same MURMUR128_MITZ_64 strategy as the
segment bloom filter (sources/pinot_segment.py), with sizing by the
EXPECTED-insertions parameter, not the actual count.

Byte-identity with the real guava-33.4.8 / RoaringBitmap-1.3.0 jars is
pinned by tests/fixtures/reallib_segment_golden.json ("idset" section,
tools/gen_reallib_segment_golden.py).
"""

from __future__ import annotations

import math
import struct

import numpy as np

TYPE_EMPTY = 0
TYPE_ROARING = 1
TYPE_ROARING64 = 2
TYPE_BLOOM = 3

FUNNEL_INT = 0
FUNNEL_LONG = 1
FUNNEL_STRING = 2
FUNNEL_BYTES = 3

DEFAULT_SIZE_THRESHOLD = 8 * 1024 * 1024  # IdSets.java:33
DEFAULT_EXPECTED_INSERTIONS = 5_000_000  # IdSets.java:35
DEFAULT_FPP = 0.03  # IdSets.java:36

_LONG_MASK = (1 << 64) - 1
_RR_NO_RUN_COOKIE = 12346  # RoaringBitmap SERIAL_COOKIE_NO_RUNCONTAINER


def _funnel_bytes(funnel: int, value) -> bytes:
    """The bytes guava's funnel feeds the hasher for one id."""
    if funnel == FUNNEL_INT:
        # unsigned pack of the masked value = little-endian two's
        # complement of the signed id (np.int32(masked) raised
        # OverflowError for negative ids under numpy 2)
        return struct.pack("<I", int(value) & 0xFFFFFFFF)
    if funnel == FUNNEL_LONG:
        return struct.pack("<Q", int(value) & _LONG_MASK)
    if funnel == FUNNEL_STRING:
        return str(value).encode("utf-16-le")
    if funnel == FUNNEL_BYTES:
        return bytes(value)
    raise ValueError(f"unknown funnel {funnel}")


def _bloom_value_bytes(funnel: int, value, data_type: str) -> bytes:
    """Funnel bytes for one id, applying the reference's raw-bits
    dispatch for FLOAT/DOUBLE (BloomFilterIdSet.java:88-96)."""
    if data_type == "FLOAT":
        return struct.pack("<i", struct.unpack("<i", struct.pack("<f", float(value)))[0])
    if data_type == "DOUBLE":
        return struct.pack("<q", struct.unpack("<q", struct.pack("<d", float(value)))[0])
    return _funnel_bytes(funnel, value)


_FUNNEL_FOR_TYPE = {
    "INT": FUNNEL_INT,
    "FLOAT": FUNNEL_INT,
    "LONG": FUNNEL_LONG,
    "DOUBLE": FUNNEL_LONG,
    "STRING": FUNNEL_STRING,
    "BYTES": FUNNEL_BYTES,
}


def _encode_bloom(
    values, data_type: str, expected_insertions: int, fpp: float
) -> bytes:
    from hurricanedb_spark.operators.theta_ds import murmur3_x64_128
    from hurricanedb_spark.sources.pinot_segment import _bloom_sizing

    funnel = _FUNNEL_FOR_TYPE[data_type]
    num_longs, k = _bloom_sizing(expected_insertions, fpp)
    num_bits = num_longs * 64
    data = np.zeros(num_longs, dtype=np.uint64)
    for v in values:
        h1, h2 = murmur3_x64_128(_bloom_value_bytes(funnel, v, data_type), 0)
        combined = h1
        for _ in range(k):
            bit = (combined & (1 << 63) - 1) % num_bits
            data[bit >> 6] |= np.uint64(1 << (bit & 63))
            combined = (combined + h2) & _LONG_MASK
    return (
        bytes([TYPE_BLOOM, funnel])
        + struct.pack(">BBi", 1, k, num_longs)
        + data.byteswap().tobytes()
    )


def _as_uint64(values) -> "np.ndarray":
    """values (iterable / set / numpy array of signed or unsigned ids)
    -> their unsigned 64-bit images, vectorized for arrays (round-14:
    the per-value int()&mask loops dominated large-set encodes)."""
    if isinstance(values, np.ndarray):
        if values.dtype == np.uint64:
            return values
        if values.dtype.kind in "iu":
            return values.astype(np.int64).astype(np.uint64)
        values = values.tolist()
    return np.fromiter(
        (int(v) & _LONG_MASK for v in values),
        dtype=np.uint64,
        count=len(values) if hasattr(values, "__len__") else -1,
    )


def _encode_roaring64(values) -> bytes:
    from hurricanedb_spark.sources.pinot_segment import roaring_serialize

    # two's-complement 64-bit; keys are the UNSIGNED high-32 bits in
    # unsigned ascending order — `new Roaring64NavigableMap()` defaults
    # to unsigned long ordering, so serializeLegacy writes boolean
    # signedLongs=false then big-endian (key count, key) ints (pinned
    # byte-for-byte by the real-jar golden; a negative id's 0xFFFFFFFF
    # key sorts last). Vectorized bucketing: one sort, sliced per
    # unsigned-high-32 boundary.
    u = np.unique(_as_uint64(values))  # sorted unsigned
    if len(u) == 0:
        return bytes([TYPE_ROARING64]) + b"\x00" + struct.pack(">i", 0)
    highs = (u >> np.uint64(32)).astype(np.uint32)
    lows = (u & np.uint64(0xFFFFFFFF)).astype(np.uint32)
    bounds = np.flatnonzero(np.diff(highs)) + 1
    starts = np.concatenate(([0], bounds))
    ends = np.concatenate((bounds, [len(u)]))
    header = bytes([TYPE_ROARING64]) + b"\x00" + struct.pack(">i", len(starts))
    # hashed/random long ids put ~1 id per high-32 bucket — the
    # per-bucket roaring_serialize loop was 27us/bucket (11s for a
    # 400k-id set). When EVERY bucket is a single array container
    # (card <= 4096, one 16-bit key), the per-bucket wire layout is
    # fixed-shape: BE key + {cookie 12346, size 1} + one desc + one
    # offset (16) + '<u2' lows — assembled for all buckets at once
    # with numpy scatter writes. Mixed/clustered shapes (few, large
    # buckets) keep the loop, which is cheap there.
    counts = ends - starts
    k48 = u >> np.uint64(16)
    fast = (k48[starts] == k48[ends - 1]) & (counts <= 4096)
    if int(fast.sum()) <= 64:
        out = [header]
        for s, e in zip(starts, ends):
            out.append(struct.pack(">I", int(highs[s])))
            out.append(roaring_serialize(lows[s:e], run_optimize=False))
        return b"".join(out)

    def assemble(bsel: np.ndarray) -> bytes:
        # batch-write a run of single-container buckets
        n_b = len(bsel)
        bs, be = starts[bsel], ends[bsel]
        bc = be - bs
        rec_len = 20 + 2 * bc
        off = np.zeros(n_b, dtype=np.int64)
        np.cumsum(rec_len[:-1], out=off[1:])
        buf = np.zeros(int(rec_len.sum()), dtype=np.uint8)
        cols4 = np.arange(4)
        buf[off[:, None] + cols4] = (
            highs[bs].astype(">u4").view(np.uint8).reshape(n_b, 4)
        )
        buf[off[:, None] + 4 + np.arange(8)] = np.frombuffer(
            struct.pack("<ii", 12346, 1), dtype=np.uint8
        )
        desc = np.empty((n_b, 2), dtype="<u2")
        desc[:, 0] = (k48[bs] & np.uint64(0xFFFF)).astype(np.uint16)
        desc[:, 1] = (bc - 1).astype(np.uint16)
        buf[off[:, None] + 12 + cols4] = desc.view(np.uint8).reshape(n_b, 4)
        buf[off[:, None] + 16 + cols4] = np.frombuffer(
            struct.pack("<i", 16), dtype=np.uint8
        )
        val_idx = np.repeat(bs, bc) + _within(bc)
        pay_bytes = lows[val_idx].astype("<u2").view(np.uint8)
        n_pay = 2 * bc
        positions = np.repeat(off + 20, n_pay) + _within(n_pay)
        buf[positions] = pay_bytes
        return buf.tobytes()

    def _within(seg_counts: np.ndarray) -> np.ndarray:
        excl = np.zeros(len(seg_counts), dtype=np.int64)
        np.cumsum(seg_counts[:-1], out=excl[1:])
        return np.arange(int(seg_counts.sum())) - np.repeat(excl, seg_counts)

    # stitch runs of fast buckets (vectorized) with the rare slow ones
    # (multi-container high-32 collisions), preserving bucket order
    out = [header]
    run_bounds = np.flatnonzero(np.diff(fast)) + 1
    seg_starts = np.concatenate(([0], run_bounds))
    seg_ends = np.concatenate((run_bounds, [len(fast)]))
    for ss, se in zip(seg_starts, seg_ends):
        if fast[ss]:
            out.append(assemble(np.arange(ss, se)))
        else:
            for i in range(ss, se):
                s, e = starts[i], ends[i]
                out.append(struct.pack(">I", int(highs[s])))
                out.append(roaring_serialize(lows[s:e], run_optimize=False))
    return b"".join(out)


def encode_idset(
    values,
    data_type: str,
    size_threshold_in_bytes: int = DEFAULT_SIZE_THRESHOLD,
    expected_insertions: int = DEFAULT_EXPECTED_INSERTIONS,
    fpp: float = DEFAULT_FPP,
) -> bytes:
    """values (nulls excluded by the caller) + Pinot DataType name ->
    the reference's IdSet.toBytes bytes. Empty input returns the EMPTY
    IdSet like the reference's aggregate over no rows."""
    from hurricanedb_spark.sources.pinot_segment import roaring_serialize

    data_type = data_type.upper()
    if data_type not in _FUNNEL_FOR_TYPE:
        raise ValueError(f"unsupported IdSet data type {data_type!r}")
    if isinstance(values, np.ndarray):
        vals = values  # arrays carry no Nones
    else:
        vals = [v for v in values if v is not None]
    if len(vals) == 0:
        return bytes([TYPE_EMPTY])
    if size_threshold_in_bytes <= 0 or data_type in (
        "FLOAT",
        "DOUBLE",
        "STRING",
        "BYTES",
    ):
        return _encode_bloom(vals, data_type, expected_insertions, fpp)
    if data_type == "INT":
        blob = bytes([TYPE_ROARING]) + roaring_serialize(
            _as_uint64(vals).astype(np.uint32), run_optimize=False
        )
    else:  # LONG
        blob = _encode_roaring64(vals)
    if len(blob) > size_threshold_in_bytes:
        # IdSets.merge's exact->bloom conversion bound (IdSets.java:96+)
        return _encode_bloom(vals, data_type, expected_insertions, fpp)
    return blob


class PinotIdSet:
    """Decoded IdSet: exact types expose .values(); bloom exposes
    approximate .contains(value, data_type)."""

    def __init__(self, type_id: int, payload):
        self.type_id = type_id
        self._payload = payload
        self._set = None  # lazy membership set for contains()

    @property
    def exact(self) -> bool:
        return self.type_id != TYPE_BLOOM

    @property
    def funnel(self) -> int | None:
        """Bloom wire funnel id (FUNNEL_*); None for exact/empty sets."""
        return self._payload[0] if self.type_id == TYPE_BLOOM else None

    def values(self):
        """Unsigned ids — a sorted numpy uint64 array for the exact
        types ([] for EMPTY); raises for blooms."""
        if self.type_id == TYPE_EMPTY:
            return []
        if self.type_id in (TYPE_ROARING, TYPE_ROARING64):
            return self._payload
        raise ValueError("bloom IdSet has no enumerable values")

    def contains(self, value, data_type: str | None = None) -> bool:
        if self.type_id == TYPE_EMPTY:
            return False
        if self.type_id == TYPE_ROARING:
            return (int(value) & 0xFFFFFFFF) in self._payload_set()
        if self.type_id == TYPE_ROARING64:
            return (int(value) & _LONG_MASK) in self._payload_set()
        funnel, k, num_longs, data = self._payload
        if data_type is None:
            # infer the funnel route from the value's python type — a
            # float against an int/long funnel means the reference's
            # raw-bits FLOAT/DOUBLE dispatch
            if isinstance(value, float):
                data_type = "FLOAT" if funnel == FUNNEL_INT else "DOUBLE"
            elif isinstance(value, (bytes, bytearray)):
                data_type = "BYTES"
            elif isinstance(value, str):
                data_type = "STRING"
            else:
                data_type = "INT" if funnel == FUNNEL_INT else "LONG"
        from hurricanedb_spark.operators.theta_ds import murmur3_x64_128

        h1, h2 = murmur3_x64_128(
            _bloom_value_bytes(funnel, value, data_type.upper()), 0
        )
        num_bits = num_longs * 64
        combined = h1
        for _ in range(k):
            bit = (combined & (1 << 63) - 1) % num_bits
            if not int(data[bit >> 6]) & (1 << (bit & 63)):
                return False
            combined = (combined + h2) & _LONG_MASK
        return True

    def _payload_set(self):
        # cached SEPARATELY from the payload array — contains() must
        # not destroy the vectorized values()/signed_values() view
        if self._set is None:
            self._set = {int(v) for v in self._payload}
        return self._set

    def signed_values(self):
        """Exact values as a two's-complement int64 numpy array —
        directly comparable to Spark int/bigint columns (vectorized
        Series.isin membership, the probe hot path)."""
        if self.type_id == TYPE_EMPTY:
            return np.empty(0, dtype=np.int64)
        vals = np.asarray(self.values(), dtype=np.uint64)
        if self.type_id == TYPE_ROARING:
            return vals.astype(np.uint32).astype(np.int32).astype(np.int64)
        return vals.astype(np.int64)


def decode_idset(buf: bytes) -> PinotIdSet:
    from hurricanedb_spark.sources.pinot_segment import roaring_deserialize

    if not buf:
        raise ValueError("empty IdSet buffer")
    type_id = buf[0]
    if type_id == TYPE_EMPTY:
        return PinotIdSet(TYPE_EMPTY, None)
    if type_id == TYPE_ROARING:
        vals = roaring_deserialize(buf[1:])
        # sorted numpy uint64 payload: keeps multi-million-id sets
        # vectorized end-to-end (round-14 — the per-value int() loop
        # dominated decode at the 8MB threshold scale)
        return PinotIdSet(TYPE_ROARING, vals.astype(np.uint64))
    if type_id == TYPE_ROARING64:
        pos = 2  # skip signed flag (membership is flag-independent)
        (n_keys,) = struct.unpack_from(">i", buf, pos)
        pos += 4
        chunks: list[np.ndarray] = []
        # Round-14 scale path: hashed/random long ids put ~1 id per
        # high-32 bucket, so the stream is n_buckets tiny fixed-shape
        # records. The walk stays a (cheap) python loop — record
        # lengths chain sequentially — but single-array-container
        # buckets only record (key, payload pos, card) and the values
        # materialize in ONE numpy gather per run; the generic decoder
        # handles multi-container buckets via zero-copy memoryview
        # slices (a bytes slice per bucket was O(n^2): 127s for 9MB)
        mv = memoryview(buf)
        bufarr = np.frombuffer(buf, dtype=np.uint8)
        run: list[tuple[int, int, int, int]] = []  # (high, key16, pay_pos, card)

        def flush_run() -> None:
            if not run:
                return
            highs = np.asarray([r[0] for r in run], dtype=np.uint64)
            key16 = np.asarray([r[1] for r in run], dtype=np.uint64)
            pays = np.asarray([r[2] for r in run], dtype=np.int64)
            cards = np.asarray([r[3] for r in run], dtype=np.int64)
            run.clear()
            n_pay = 2 * cards
            excl = np.zeros(len(cards), dtype=np.int64)
            np.cumsum(n_pay[:-1], out=excl[1:])
            positions = np.repeat(pays, n_pay) + (
                np.arange(int(n_pay.sum())) - np.repeat(excl, n_pay)
            )
            lows16 = (
                bufarr[positions].copy().view("<u2").astype(np.uint64)
            )
            base = (highs << np.uint64(32)) | (key16 << np.uint64(16))
            chunks.append(np.repeat(base, cards) | lows16)

        for _ in range(n_keys):
            (high,) = struct.unpack_from(">I", buf, pos)
            pos += 4
            cookie, size = struct.unpack_from("<Ii", buf, pos)
            if cookie == _RR_NO_RUN_COOKIE and size == 1:
                k16, card_m1 = struct.unpack_from("<HH", buf, pos + 8)
                card = card_m1 + 1
                if card <= 4096:  # single array container: fast shape
                    run.append((high, k16, pos + 16, card))
                    pos += 16 + 2 * card
                    continue
            flush_run()
            sub = mv[pos:]
            lows = roaring_deserialize(sub)
            pos += _roaring_stream_len(sub)
            base = np.uint64((int(high) & 0xFFFFFFFF) << 32)
            chunks.append(base | lows.astype(np.uint64))
        flush_run()
        return PinotIdSet(
            TYPE_ROARING64,
            np.concatenate(chunks)
            if chunks
            else np.empty(0, dtype=np.uint64),
        )
    if type_id == TYPE_BLOOM:
        funnel = buf[1]
        strategy, k, num_longs = struct.unpack_from(">BBi", buf, 2)
        if strategy != 1:
            raise ValueError(f"bloom strategy ordinal {strategy}")
        data = np.frombuffer(
            buf, dtype=">u8", count=num_longs, offset=8
        ).astype(np.uint64)
        return PinotIdSet(TYPE_BLOOM, (funnel, k, num_longs, data))
    raise ValueError(f"unknown IdSet type {type_id}")


def _roaring_stream_len(buf: bytes) -> int:
    """Byte length of one portable RoaringBitmap stream at buf[0] —
    needed to walk the concatenated per-key bitmaps in the legacy
    Roaring64 layout (which carries no per-bitmap length)."""
    # unsigned decode (round-13 ADVICE): ≥32769 containers push the
    # with-run cookie past INT32_MAX (Java wraps negative on write)
    (cookie,) = struct.unpack_from("<I", buf, 0)
    if (cookie & 0xFFFF) == 12347:
        size = ((cookie >> 16) & 0xFFFF) + 1
        pos = 4 + (size + 7) // 8
        run_flags = np.unpackbits(
            np.frombuffer(buf, np.uint8, (size + 7) // 8, 4),
            bitorder="little",
        )[:size]
        has_offsets = size >= 4
    elif cookie == 12346:
        (size,) = struct.unpack_from("<i", buf, 4)
        pos = 8
        run_flags = [0] * size
        has_offsets = True
    else:
        raise ValueError(f"not a RoaringBitmap stream (cookie {cookie})")
    desc = struct.unpack_from(f"<{2 * size}H", buf, pos)
    pos += 4 * size
    if has_offsets:
        pos += 4 * size
    for i in range(size):
        card = desc[2 * i + 1] + 1
        if run_flags[i]:
            (n_runs,) = struct.unpack_from("<H", buf, pos)
            pos += 2 + 4 * n_runs
        elif card <= 4096:
            pos += 2 * card
        else:
            pos += 8192
    return pos


def _bloom_insert_bits(data, k: int, num_bits: int, payload: bytes) -> None:
    """Set the k probe bits for one already-funnel-encoded value."""
    from hurricanedb_spark.operators.theta_ds import murmur3_x64_128

    h1, h2 = murmur3_x64_128(payload, 0)
    combined = h1
    for _ in range(k):
        bit = (combined & (1 << 63) - 1) % num_bits
        data[bit >> 6] |= np.uint64(1 << (bit & 63))
        combined = (combined + h2) & _LONG_MASK


_TAG_DTYPE = {TYPE_ROARING: "INT", TYPE_ROARING64: "LONG"}
_FUNNEL_DTYPE = {
    FUNNEL_INT: "INT",
    FUNNEL_LONG: "LONG",
    FUNNEL_STRING: "STRING",
    FUNNEL_BYTES: "BYTES",
}


def exact_wire_size(vals, data_type: str) -> int:
    """Exact byte length of encode_idset's EXACT form for a set of
    INT/LONG ids, computed from container cardinalities WITHOUT
    serializing — the streaming accumulator's conversion trigger must
    agree bit-for-bit with encode_idset's `len(blob) > threshold` so
    under-threshold groups keep identical bytes. Mirrors the no-run
    layouts: INT = type + roaring (8 header + 8/container desc+offset +
    payload); LONG = type + signed flag + bucket count + per-bucket
    (4 key + nested roaring). Array payload is 2*card (card <= 4096),
    bitmap payload 8192."""
    if len(vals) == 0:
        return 1
    if data_type == "INT":
        u = _as_uint64(vals).astype(np.uint32)
        _keys, cards = np.unique(u >> np.uint32(16), return_counts=True)
        payload = np.where(cards <= 4096, 2 * cards, 8192).sum()
        return int(1 + 8 + 8 * len(cards) + payload)
    u = _as_uint64(vals)
    keys48, cards = np.unique(u >> np.uint64(16), return_counts=True)
    payload = np.where(cards <= 4096, 2 * cards, 8192).sum()
    n_buckets = len(np.unique(keys48 >> np.uint64(16)))
    return int(6 + 12 * n_buckets + 8 * len(keys48) + payload)


class IdSetAccumulator:
    """Streaming IdSets.create (round-13 verdict #6): per-group IdSet
    state with the threshold->bloom conversion applied INCREMENTALLY —
    once the running exact set's wire size crosses the threshold, the
    state collapses to the fixed-size bloom bit array and every later
    id is k bit-inserts, so even a single-phase high-cardinality build
    stays under a fixed state bound, exactly like IdSets.merge's
    convert-then-OR behavior (IdSets.java:96-137). Bloom insertion is
    idempotent and order-insensitive, so the emitted bytes are
    identical to a single-pass encode_idset over all values:
    under-threshold groups never convert (the trigger IS encode_idset's
    own `len(blob) > threshold` test, via exact_wire_size), and
    over-threshold groups produce the same bloom bits whichever side of
    the conversion each id landed on. FLOAT/DOUBLE/STRING/BYTES (and
    threshold <= 0) are bloom-from-the-start like the reference."""

    __slots__ = (
        "_dtype", "_th", "_ins", "_fpp", "_vals", "_bloom",
        "_k", "_num_longs", "_n", "_check_at",
    )

    def __init__(
        self,
        data_type: str,
        size_threshold_in_bytes: int = DEFAULT_SIZE_THRESHOLD,
        expected_insertions: int = DEFAULT_EXPECTED_INSERTIONS,
        fpp: float = DEFAULT_FPP,
    ):
        data_type = data_type.upper()
        if data_type not in _FUNNEL_FOR_TYPE:
            raise ValueError(f"unsupported IdSet data type {data_type!r}")
        self._dtype = data_type
        self._th = size_threshold_in_bytes
        self._ins = expected_insertions
        self._fpp = fpp
        self._vals: set | None = set()
        self._bloom = None
        self._n = 0
        if size_threshold_in_bytes <= 0 or data_type in (
            "FLOAT", "DOUBLE", "STRING", "BYTES",
        ):
            self._start_bloom()
        else:
            # cheapest NECESSARY condition for crossing the threshold:
            # one id adds at most 10 (INT: 2 payload + 8 desc/offset)
            # or 22 (LONG: worst case opens a bucket) wire bytes, so
            # no exact-size computation happens below this count
            per = 10 if data_type == "INT" else 22
            self._check_at = max(1, (size_threshold_in_bytes - 9) // per)

    def _start_bloom(self) -> None:
        from hurricanedb_spark.sources.pinot_segment import _bloom_sizing

        self._num_longs, self._k = _bloom_sizing(self._ins, self._fpp)
        self._bloom = np.zeros(self._num_longs, dtype=np.uint64)
        funnel = _FUNNEL_FOR_TYPE[self._dtype]
        num_bits = self._num_longs * 64
        for v in self._vals or ():
            _bloom_insert_bits(
                self._bloom, self._k, num_bits,
                _bloom_value_bytes(funnel, v, self._dtype),
            )
        self._vals = None

    def add(self, values) -> None:
        """Fold an iterable of non-null ids into the state."""
        if self._bloom is not None:
            funnel = _FUNNEL_FOR_TYPE[self._dtype]
            num_bits = self._num_longs * 64
            for v in values:
                self._n += 1
                _bloom_insert_bits(
                    self._bloom, self._k, num_bits,
                    _bloom_value_bytes(funnel, v, self._dtype),
                )
            return
        self._vals.update(
            values.tolist() if hasattr(values, "tolist") else values
        )
        self._n = len(self._vals)
        if (
            self._n >= self._check_at
            and exact_wire_size(self._vals, self._dtype) > self._th
        ):
            self._start_bloom()

    def emit(self) -> bytes:
        """The reference's IdSet.toBytes for everything added so far."""
        if self._n == 0:
            return bytes([TYPE_EMPTY])
        if self._bloom is None:
            return encode_idset(
                self._vals,
                self._dtype,
                size_threshold_in_bytes=self._th,
                expected_insertions=self._ins,
                fpp=self._fpp,
            )
        return (
            bytes([TYPE_BLOOM, _FUNNEL_FOR_TYPE[self._dtype]])
            + struct.pack(">BBi", 1, self._k, self._num_longs)
            + self._bloom.byteswap().tobytes()
        )


def merge_idset_blobs_many(
    blobs,
    size_threshold_in_bytes: int = DEFAULT_SIZE_THRESHOLD,
    expected_insertions: int = DEFAULT_EXPECTED_INSERTIONS,
    fpp: float = DEFAULT_FPP,
) -> bytes:
    """N-way IdSets.merge (round-14): the pairwise reduce re-encoded the
    running union once PER PARTIAL — O(partitions x encode) at the merge
    stage. All-exact partials now union as one numpy concatenate+unique
    and encode ONCE; any bloom partial switches to bit-OR with exact
    partials inserted value-by-value (the reference's own exact-into-
    bloom path). Associativity/order-insensitivity make the bytes
    identical to the pairwise fold."""
    blobs = [b for b in blobs if b and b[0] != TYPE_EMPTY]
    if not blobs:
        return bytes([TYPE_EMPTY])
    if len(blobs) == 1:
        return bytes(blobs[0])
    exact = [b for b in blobs if b[0] != TYPE_BLOOM]
    blooms = [b for b in blobs if b[0] == TYPE_BLOOM]
    union = (
        np.unique(
            np.concatenate([decode_idset(b).values() for b in exact])
        )
        if exact
        else None
    )
    if not blooms:
        tags = {b[0] for b in exact}
        if len(tags) != 1:
            raise ValueError(f"cannot merge IdSet types {sorted(tags)}")
        return encode_idset(
            union.astype(np.int64),
            _TAG_DTYPE[tags.pop()],
            size_threshold_in_bytes=size_threshold_in_bytes,
            expected_insertions=expected_insertions,
            fpp=fpp,
        )
    first = blooms[0]
    funnel = first[1]
    _strategy, k, num_longs = struct.unpack_from(">BBi", first, 2)
    data = (
        np.frombuffer(first, dtype=">u8", count=num_longs, offset=8)
        .astype(np.uint64)
        .copy()
    )
    for b in blooms[1:]:
        if b[1] != funnel or b[2:8] != first[2:8]:
            raise ValueError("incompatible bloom IdSets")
        data |= np.frombuffer(
            b, dtype=">u8", count=num_longs, offset=8
        ).astype(np.uint64)
    if union is not None:
        num_bits = num_longs * 64
        for v in union:
            _bloom_insert_bits(data, k, num_bits, _funnel_bytes(funnel, v))
    return (
        bytes([TYPE_BLOOM, funnel])
        + struct.pack(">BBi", 1, k, num_longs)
        + data.byteswap().tobytes()
    )


def needs_exact_channel(ids: "PinotIdSet") -> bool:
    """True when a float64 image of the PROBE column could change the
    answer, i.e. the emitted probe must carry the exact values through
    the decimal-string channel (a null-bearing LONG Arrow batch
    degrades to float64 in pandas, rounding values past 2^53 BEFORE
    any UDF runs):

    - exact ROARING64 sets that distinguish ids past 2^53 — a rounded
      probe value collides with a set neighbor (false positive);
    - LONG-funnel blooms — a rounded probe hashes DIFFERENT funnel
      bytes, so a genuine member can probe false. A bloom contract
      permits false positives, never false negatives
      (BloomFilterIdSet.java contains) — round-15, closing the
      round-14 residual. Bloom members are not enumerable, so the
      gate is the funnel, not the stored ids.

    INT-funnel blooms and ROARING/ROARING32 sets never need it: their
    id space is within float64-exact range."""
    if ids.type_id == TYPE_ROARING64:
        vals = np.asarray(ids.values(), dtype=np.uint64)
        # vectorized signed-image magnitude test (round-15 ADVICE — the
        # per-value any() loop added rewrite latency on huge sets)
        sv = vals.view(np.int64)
        return bool(np.any((sv >= 1 << 53) | (sv <= -(1 << 53))))
    return ids.type_id == TYPE_BLOOM and ids.funnel == FUNNEL_LONG


def probe_series(s, literal_b64: str):
    """Vectorized membership of a pandas Series against a base64 IdSet
    literal — the pandas-UDF hot path for IN_ID_SET. The decoded IdSet
    (and, for exact types, its signed int64 value array) is cached per
    worker process, so a 6M-row scan decodes the blob once, not once
    per Arrow batch; exact membership is numpy Series.isin, bloom
    membership stays the per-value probe (k murmur hashes each —
    inherent to the structure).

    Decimal-string input (round-14): when the emitted probe casts the
    column to STRING, the strings parse back to exact int64 before
    membership. Round-15 probes emit the TWO-column form
    (probe_series_pair) instead — this single-series entry remains for
    the small-literal `inidsetblob` fallback and legacy callers."""
    import pandas as pd

    ids, signed = _cached_literal(literal_b64)
    if signed is not None and str(s.dtype) == "object":
        mask = s.notna()
        out = pd.Series(False, index=s.index, dtype="boolean")
        if mask.any():
            try:
                exact_vals = s[mask].astype("int64")
            except (ValueError, TypeError, OverflowError):
                # non-integral strings (a float column routed through
                # the cast) or numeric strings outside int64 (pandas
                # raises OverflowError there, round-15 ADVICE): numeric
                # compare like the un-cast path
                exact_vals = pd.to_numeric(s[mask], errors="coerce")
            out[mask] = exact_vals.isin(signed).to_numpy()
        return out
    if signed is not None:
        return pd.Series(s.isin(signed) & s.notna()).astype("boolean")
    return s.map(
        lambda v: False if pd.isna(v) else ids.contains(v)
    ).astype("boolean")


def probe_series_pair(s_num, s_str, literal_b64: str):
    """Two-column membership probe: the column itself plus its
    JVM-exact CAST-AS-STRING image (round-15). Emitted whenever
    needs_exact_channel(set) — the numeric column keeps NULL-FREE
    batches on the exact int64 fast path (no per-row string parse),
    and the string column carries the exact values for batches the
    Arrow transfer degraded to float64. Dispatch:

    - integer batch dtype: exact already — numeric isin / contains.
    - object batch dtype: the probe column is itself STRING/DECIMAL
      (the CAST was an identity) — keep single-series semantics, so a
      genuine string column still takes the reference's STRING-funnel
      route against blooms.
    - float batch dtype (degraded int column, or a real FLOAT/DOUBLE
      column): parse the string image. Integral strings take the
      exact int64 route (LONG funnel for blooms); '.'/'E' strings are
      a real FLOAT/DOUBLE column and keep the raw-bits route
      (BloomFilterIdSet.java:88-96) — Spark renders doubles with
      shortest round-trip repr, so float() recovers the exact value."""
    import pandas as pd

    ids, signed = _cached_literal(literal_b64)
    kind = getattr(s_num.dtype, "kind", "O")
    if kind in "iu":
        if signed is not None:
            return pd.Series(s_num.isin(signed) & s_num.notna()).astype(
                "boolean"
            )
        return s_num.map(
            lambda v: False if pd.isna(v) else ids.contains(v)
        ).astype("boolean")
    if kind not in "fc":
        return probe_series(s_num, literal_b64)
    mask = s_str.notna()
    out = pd.Series(False, index=s_num.index, dtype="boolean")
    if not mask.any():
        return out
    sv = s_str[mask]
    if signed is not None:
        try:
            exact_vals = sv.astype("int64")
        except (ValueError, TypeError, OverflowError):
            exact_vals = pd.to_numeric(sv, errors="coerce")
        out[mask] = exact_vals.isin(signed).to_numpy()
        return out

    def _probe(x):
        try:
            return ids.contains(int(x))
        except (ValueError, TypeError):
            try:
                return ids.contains(float(x))
            except (ValueError, TypeError):
                return ids.contains(x)

    out[mask] = sv.map(_probe).to_numpy()
    return out


def probe_arrow(a, literal_b64: str):
    """Arrow-native membership probe (round-15): the pyarrow batch
    carries the TRUE column type — a null-bearing LONG probe column
    arrives as int64 + validity bitmap instead of the pandas float64
    degrade that rounded probe values past 2^53 and forced the
    rounds-14/15 CAST-AS-STRING channel (probe_series_pair). Integer
    columns take a fully-vectorized exact path (np.isin against the
    cached signed array, or the per-value bloom probe over exact
    int64); every other column type reuses the probe_series kernel on
    the batch's numpy image, so FLOAT/DOUBLE raw-bits and STRING
    funnel routes stay byte-identical to the pandas path
    (BloomFilterIdSet.java contains dispatch). NULL probes return
    FALSE, as before."""
    import pandas as pd
    import pyarrow as pa

    ids, signed = _cached_literal(literal_b64)
    if isinstance(a, pa.ChunkedArray):
        a = a.combine_chunks()
    if pa.types.is_integer(a.type):
        valid = np.asarray(a.is_valid())
        vals = (
            a.fill_null(0)
            .to_numpy(zero_copy_only=False)
            .astype(np.int64, copy=False)
        )
        if signed is not None:
            return pa.array(np.isin(vals, signed) & valid)
        out = np.zeros(len(vals), dtype=bool)
        for i in np.nonzero(valid)[0]:
            out[i] = ids.contains(int(vals[i]))
        return pa.array(out)
    ser = pd.Series(a.to_numpy(zero_copy_only=False))
    res = probe_series(ser, literal_b64)
    return pa.array(res.fillna(False).astype(bool).to_numpy())


import functools as _functools  # noqa: E402


@_functools.lru_cache(maxsize=64)
def _cached_literal(literal_b64: str):
    import base64 as _b64

    ids = decode_idset(_b64.b64decode(literal_b64))
    signed = (
        ids.signed_values()
        if ids.exact and ids.type_id != TYPE_EMPTY
        else (np.empty(0, dtype=np.int64) if ids.type_id == TYPE_EMPTY else None)
    )
    return ids, signed


def spark_type_to_pinot(dtype: str) -> str:
    """Spark simpleString -> Pinot DataType for the IdSet dispatch."""
    return {
        "int": "INT",
        "integer": "INT",
        "bigint": "LONG",
        "long": "LONG",
        "float": "FLOAT",
        "double": "DOUBLE",
        "string": "STRING",
        "binary": "BYTES",
        "smallint": "INT",
        "tinyint": "INT",
    }.get(dtype.lower(), "")
