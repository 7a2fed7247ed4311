"""DataSketches-binary-compatible theta sketches.

The reference's distinctCountRawThetaSketch returns serialized
org.apache.datasketches theta sketch bytes so sketches can round-trip
between segments, brokers, and external consumers
(pinot-core/.../function/DistinctCountThetaSketchAggregationFunction.java:60-111,
default nominalEntries 4096 per its class javadoc). This module is the
engine's one theta sketch family, and the only source of the reference's
serVer-3 wire bytes, so a sketch produced here can be read by a real
DataSketches/Pinot/Druid deployment and vice versa.

Where only an estimate leaves the query, the sketch work runs on Spark
4.1's bundled datasketches-java 6.2.0 instead: `theta_union_agg` reads
these serVer-3 bytes, and `theta_sketch_agg` / `theta_sketch_estimate`
run as JVM partial and final aggregates. Their nominal is a log2
(`lgNomEntries`); `lg_k` maps a nominal-entries count to it. Native
sketches serialize as serVer 4, so every raw wire form (and the merges
behind it) stays on this module.

Everything below follows the PUBLIC Apache DataSketches specification:

  - Hashing: MurmurHash3 x64 128 (Austin Appleby's public domain
    algorithm), default update seed 9001; a value's hash is
    ``h1 >>> 1`` (63-bit positive), zero rejected (reserved for empty
    hash-table slots).
  - Input canonicalization (datasketches-java UpdateSketch.update
    overloads): int/long -> 8-byte little-endian long; float/double ->
    IEEE bits of the double after canonicalizing -0.0 to 0.0 (and NaN to
    the canonical NaN, as Double.doubleToLongBits does); String -> UTF-8
    bytes, with null/empty ignored.
  - Compact serialized layout (little-endian, 8-byte preamble longs):
      long 0: byte0 preambleLongs, byte1 serVer=3, byte2 familyID=3
              (COMPACT), byte3 lgNomLongs, byte4 lgArrLongs (unused for
              compact), byte5 flags, bytes6-7 seedHash
      long 1 (preambleLongs >= 2): curCount int32 | p float32
      long 2 (preambleLongs == 3): thetaLong
      then curCount retained hash longs, ascending when ORDERED.
    Flags bits: 1 BIG_ENDIAN(unset) | 2 READ_ONLY | 4 EMPTY | 8 COMPACT
    | 16 ORDERED. Layouts: empty = 1 preamble long, nothing else;
    single-item = 1 preamble long (EMPTY unset) + 1 hash; exact
    (theta == MAX) = 2 preamble longs + hashes; estimation = 3 preamble
    longs + hashes.
  - seedHash = low 16 bits of murmur3(seed as one long, seed 0); a zero
    seedHash is illegal. Sketches only combine when seed hashes match.

Sketch state here is (thetaLong, sorted retained 63-bit hashes): exact
until the retained count exceeds nominal entries k, then thetaLong
becomes the (k+1)-th smallest hash and the k smaller ones are retained —
the same order-statistic rule a QuickSelect theta sketch compacts to.
Estimate = curCount / (thetaLong / 2^63-1).

Scale design: hashing numeric columns is a vectorized numpy kernel (an
8-byte murmur3 input needs no block loop, so the whole hash is ~15
uint64 array ops); strings take a per-row loop inside the Arrow batch.
The distributed raw path is operators/raw_partial.digests_by_group:
partial sketches per partition via mapInArrow (map-side combine), so the
one shuffle carries O(groups x k) longs, never O(rows).
"""

from __future__ import annotations

import struct
from typing import Iterable, NamedTuple, Sequence

DEFAULT_SEED = 9001  # datasketches-java ThetaUtil.DEFAULT_UPDATE_SEED
DEFAULT_NOMINAL = 4096  # reference default nominalEntries
MAX_THETA = (1 << 63) - 1  # Long.MAX_VALUE

_MASK = (1 << 64) - 1
_C1 = 0x87C37B91114253D5
# round-12: _C2 was 0x4CF5AB832BE87313 — a corrupted transcription of
# the canonical MurmurHash3 x64-128 constant, caught by byte-comparing
# against the REAL datasketches-java-6.2.0 jar bundled with pyspark
# (tests/test_reallib_golden.py). The wrong constant was internally
# self-consistent (every build/union/estimate shared it, so all
# round-trip and accuracy tests passed) but put every sketch in a
# different hash space than real DataSketches/Pinot — a migrated
# reference store's sketches would have double-counted on union, and
# the seed-hash (also derived through murmur3) mismatched, so real
# readers would have rejected our bytes outright.
_C2 = 0x4CF5AD432745937F

_SER_VER = 3
_FAMILY_COMPACT = 3
_FLAG_READ_ONLY = 2
_FLAG_EMPTY = 4
_FLAG_COMPACT = 8
_FLAG_ORDERED = 16
_FLAG_SINGLE_ITEM = 32  # real readers require it on the 1-prelong form


def lg_k(k: int) -> int:
    """log2 of a nominal-entries count, rounded up to a power of two as
    DataSketches does, and at least 4: the `lgNomEntries` argument of
    Spark's theta_sketch_agg / theta_union_agg."""
    return max(4, (k - 1).bit_length())


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _MASK


def _fmix64(k: int) -> int:
    k ^= k >> 33
    k = (k * 0xFF51AFD7ED558CCD) & _MASK
    k ^= k >> 33
    k = (k * 0xC4CEB9FE1A85EC53) & _MASK
    k ^= k >> 33
    return k


def murmur3_x64_128(data: bytes, seed: int = 0) -> tuple[int, int]:
    """Pure-Python MurmurHash3 x64 128 (public domain algorithm).

    Little-endian reads, identical to datasketches-java MurmurHash3 for
    both its byte[] and long[] entry points (a long[] is its 8-byte LE
    layout). Returns (h1, h2) as unsigned 64-bit ints."""
    length = len(data)
    h1 = seed & _MASK
    h2 = seed & _MASK
    nblocks = length // 16
    for i in range(nblocks):
        k1, k2 = struct.unpack_from("<QQ", data, i * 16)
        k1 = (k1 * _C1) & _MASK
        k1 = _rotl(k1, 31)
        k1 = (k1 * _C2) & _MASK
        h1 ^= k1
        h1 = _rotl(h1, 27)
        h1 = (h1 + h2) & _MASK
        h1 = (h1 * 5 + 0x52DCE729) & _MASK
        k2 = (k2 * _C2) & _MASK
        k2 = _rotl(k2, 33)
        k2 = (k2 * _C1) & _MASK
        h2 ^= k2
        h2 = _rotl(h2, 31)
        h2 = (h2 + h1) & _MASK
        h2 = (h2 * 5 + 0x38495AB5) & _MASK
    tail = data[nblocks * 16 :]
    k1 = 0
    k2 = 0
    for i in range(len(tail) - 1, 7, -1):  # bytes 8..15 -> k2
        k2 = (k2 << 8) | tail[i]
    for i in range(min(len(tail), 8) - 1, -1, -1):  # bytes 0..7 -> k1
        k1 = (k1 << 8) | tail[i]
    if len(tail) > 8:
        k2 = (k2 * _C2) & _MASK
        k2 = _rotl(k2, 33)
        k2 = (k2 * _C1) & _MASK
        h2 ^= k2
    if len(tail) > 0:
        k1 = (k1 * _C1) & _MASK
        k1 = _rotl(k1, 31)
        k1 = (k1 * _C2) & _MASK
        h1 ^= k1
    h1 ^= length
    h2 ^= length
    h1 = (h1 + h2) & _MASK
    h2 = (h2 + h1) & _MASK
    h1 = _fmix64(h1)
    h2 = _fmix64(h2)
    h1 = (h1 + h2) & _MASK
    h2 = (h2 + h1) & _MASK
    return h1, h2


def compute_seed_hash(seed: int) -> int:
    """datasketches ThetaUtil.computeSeedHash: low 16 bits of
    murmur3(seed as one LE long, seed 0); zero is illegal."""
    h1, _ = murmur3_x64_128(struct.pack("<q", seed), 0)
    sh = h1 & 0xFFFF
    if sh == 0:
        raise ValueError(
            f"seed {seed} hashes to a zero seedHash; choose a different seed"
        )
    return sh


def ds_hash_bytes(data: bytes, seed: int = DEFAULT_SEED) -> int:
    """63-bit positive sketch hash of canonical input bytes
    (ThetaUtil: hash[0] >>> 1). 0 means 'rejected' (empty-slot value)."""
    h1, _ = murmur3_x64_128(data, seed)
    return h1 >> 1


def canonical_bytes(value) -> bytes | None:
    """Canonical update() input bytes per datasketches-java UpdateSketch:
    ints/longs as 8-byte LE, floats/doubles via canonical double bits,
    strings as UTF-8 (None/empty -> ignored)."""
    if value is None:
        return None
    if isinstance(value, bool):  # bool is an int subclass; reject explicitly
        raise TypeError("theta sketch update: bool is not a sketchable type")
    if isinstance(value, int):
        return struct.pack("<q", value)
    if isinstance(value, float):
        if value != value:  # NaN -> canonical NaN bits
            bits = 0x7FF8000000000000
        else:
            if value == 0.0:
                value = 0.0  # -0.0 -> +0.0
            bits = struct.unpack("<Q", struct.pack("<d", value))[0]
        return struct.pack("<Q", bits)
    if isinstance(value, str):
        return value.encode("utf-8") if value else None
    if isinstance(value, (bytes, bytearray)):
        return bytes(value) if value else None
    raise TypeError(f"theta sketch update: unsupported type {type(value)!r}")


class CompactTheta(NamedTuple):
    """An ordered compact theta sketch: thetaLong + sorted retained
    63-bit hashes (all < thetaLong), plus the seed hash it was built
    with."""

    theta_long: int
    hashes: tuple[int, ...]
    seed_hash: int

    @property
    def is_empty(self) -> bool:
        return not self.hashes and self.theta_long == MAX_THETA

    @property
    def is_estimation(self) -> bool:
        return self.theta_long < MAX_THETA

    def estimate(self) -> float:
        if self.theta_long == MAX_THETA:
            return float(len(self.hashes))
        return len(self.hashes) * (float(MAX_THETA) / float(self.theta_long))


def _check_seeds(sketches: Iterable[CompactTheta]) -> int:
    """Common seed hash of the NON-EMPTY inputs. Empty sketches are
    excluded: the canonical serialized empty carries seedHash 0
    (EmptyCompactSketch — real-jar capture, round-12), and real readers
    likewise ignore an empty's seed in set operations."""
    seed_hashes = {sk.seed_hash for sk in sketches if not sk.is_empty}
    if len(seed_hashes) > 1:
        raise ValueError(
            f"cannot combine sketches with different seed hashes: {seed_hashes}"
        )
    if not seed_hashes:
        return compute_seed_hash(DEFAULT_SEED)
    return next(iter(seed_hashes))


def build_sketch(
    values: Iterable,
    k: int = DEFAULT_NOMINAL,
    seed: int = DEFAULT_SEED,
) -> CompactTheta:
    """Build a compact sketch from raw values (driver-side / per-batch
    helper; the distributed path is raw_partial.digests_by_group)."""
    hashes = set()
    for v in values:
        b = canonical_bytes(v)
        if b is None:
            continue
        h = ds_hash_bytes(b, seed)
        if h != 0:
            hashes.add(h)
    return from_hashes(hashes, k, compute_seed_hash(seed))


def from_hashes(
    hashes: Iterable[int], k: int, seed_hash: int, theta_long: int = MAX_THETA
) -> CompactTheta:
    """Compact (theta, hash-set) state: drop hashes >= theta; if more
    than k survive, theta becomes the (k+1)-th smallest (QuickSelect
    compaction rule) and the k below it are retained."""
    hs = sorted(h for h in set(hashes) if 0 < h < theta_long)
    if len(hs) > k:
        theta_long = hs[k]
        hs = hs[:k]
    return CompactTheta(theta_long, tuple(hs), seed_hash)


def union(
    sketches: Sequence[CompactTheta], k: int = DEFAULT_NOMINAL
) -> CompactTheta:
    """Theta union: theta = min over inputs, keep hashes below it, trim
    to k by the same order-statistic rule."""
    if not sketches:
        return CompactTheta(MAX_THETA, (), compute_seed_hash(DEFAULT_SEED))
    seed_hash = _check_seeds(sketches)
    theta = min(sk.theta_long for sk in sketches)
    merged = set()
    for sk in sketches:
        merged.update(sk.hashes)
    return from_hashes(merged, k, seed_hash, theta)


def intersect(a: CompactTheta, b: CompactTheta) -> CompactTheta:
    """Theta intersection: theta = min(theta_a, theta_b), keep common
    hashes below it (no trimming — intersection never grows)."""
    seed_hash = _check_seeds((a, b))
    theta = min(a.theta_long, b.theta_long)
    common = sorted(h for h in set(a.hashes) & set(b.hashes) if h < theta)
    return CompactTheta(theta, tuple(common), seed_hash)


def a_not_b(a: CompactTheta, b: CompactTheta) -> CompactTheta:
    """Theta set difference A\\B: theta = min, keep hashes of A below
    theta that are not in B."""
    seed_hash = _check_seeds((a, b))
    theta = min(a.theta_long, b.theta_long)
    kept = sorted(h for h in set(a.hashes) - set(b.hashes) if h < theta)
    return CompactTheta(theta, tuple(kept), seed_hash)


def eval_set_tree(tree, sketches: Sequence[CompactTheta], k: int) -> CompactTheta:
    """Evaluate a parsed theta set-expression tree (int sketch id |
    (op, children) with op in union/intersect/diff — the shape
    sql/dialect._theta_parse_tree produces) over compact sketches.
    Mirrors the reference's post-aggregation set-operation evaluation
    (DistinctCountThetaSketchAggregationFunction.java extractFinalResult:
    Union/Intersection/AnotB over the per-filter sketches)."""
    if isinstance(tree, int):
        return sketches[tree]
    op, children = tree
    parts = [eval_set_tree(c, sketches, k) for c in children]
    if op == "union":
        return union(parts, k=k)
    if op == "intersect":
        out = parts[0]
        for p in parts[1:]:
            out = intersect(out, p)
        return out
    if op == "diff":
        return a_not_b(parts[0], parts[1])
    raise ValueError(f"unknown theta set operation {op!r}")


def serialize(sk: CompactTheta, lg_nom_longs: int = 12) -> bytes:
    """Serialize to the DataSketches compact ordered layout (see module
    docstring for the byte map), byte-identical to datasketches-java
    6.2.0 (tests/test_reallib_golden.py, real-jar capture):

      - byte 3 (lgNomLongs) is written as 0 — compact sketches do not
        carry the build-time nominal (the `lg_nom_longs` parameter is
        kept for API compatibility but ignored, matching the library);
      - the EMPTY sketch is the canonical 8-byte preamble with seedHash
        ZERO (EmptyCompactSketch — real readers ignore an empty's seed);
      - the single-item layout sets flag bit 0x20 (SINGLE_ITEM), which
        real readers require to disambiguate the 1-preamble-long form."""
    flags = _FLAG_READ_ONLY | _FLAG_COMPACT | _FLAG_ORDERED
    n = len(sk.hashes)
    if sk.is_empty:
        return struct.pack(
            "<BBBBBBH", 1, _SER_VER, _FAMILY_COMPACT, 0, 0,
            flags | _FLAG_EMPTY, 0,
        )
    if n == 1 and sk.theta_long == MAX_THETA:
        # single-item layout: 1 preamble long + the hash
        pre = struct.pack(
            "<BBBBBBH", 1, _SER_VER, _FAMILY_COMPACT, 0, 0,
            flags | _FLAG_SINGLE_ITEM, sk.seed_hash,
        )
        return pre + struct.pack("<q", sk.hashes[0])
    pre_longs = 2 if sk.theta_long == MAX_THETA else 3
    out = [
        struct.pack(
            "<BBBBBBH", pre_longs, _SER_VER, _FAMILY_COMPACT, 0, 0,
            flags, sk.seed_hash,
        ),
        struct.pack("<if", n, 1.0),  # curCount | p
    ]
    if pre_longs == 3:
        out.append(struct.pack("<q", sk.theta_long))
    out.append(struct.pack(f"<{n}q", *sk.hashes))
    return b"".join(out)


def deserialize(data: bytes, expected_seed_hash: int | None = None) -> CompactTheta:
    """Parse a compact theta sketch; validates serVer, family, and (when
    given) the seed hash — the same guards a DataSketches reader
    applies."""
    if len(data) < 8:
        raise ValueError(f"theta sketch too short: {len(data)} bytes")
    pre_longs, ser_ver, family, _lg_nom, _lg_arr, flags, seed_hash = struct.unpack_from(
        "<BBBBBBH", data, 0
    )
    pre_longs &= 0x3F  # high bits of byte 0 are resize-factor bits
    if ser_ver != _SER_VER:
        raise ValueError(f"unsupported theta serVer {ser_ver} (expected {_SER_VER})")
    if family != _FAMILY_COMPACT:
        raise ValueError(
            f"unsupported family id {family} (expected {_FAMILY_COMPACT} = COMPACT)"
        )
    if flags & _FLAG_EMPTY:
        # the canonical empty carries seedHash 0 (and real readers skip
        # the seed check on empties) — never reject an empty on seed;
        # restore the caller's expected seed so round-trips compare equal
        return CompactTheta(
            MAX_THETA,
            (),
            expected_seed_hash if expected_seed_hash is not None else seed_hash,
        )
    if expected_seed_hash is not None and seed_hash != expected_seed_hash:
        raise ValueError(
            f"seed hash mismatch: sketch {seed_hash} vs expected {expected_seed_hash}"
        )
    if pre_longs == 1:  # single-item layout
        (h,) = struct.unpack_from("<q", data, 8)
        return CompactTheta(MAX_THETA, (h,), seed_hash)
    cur_count, _p = struct.unpack_from("<if", data, 8)
    if pre_longs == 2:
        theta_long = MAX_THETA
        off = 16
    elif pre_longs == 3:
        (theta_long,) = struct.unpack_from("<q", data, 16)
        off = 24
    else:
        raise ValueError(f"unsupported preambleLongs {pre_longs}")
    hashes = struct.unpack_from(f"<{cur_count}q", data, off)
    return CompactTheta(theta_long, tuple(sorted(hashes)), seed_hash)


# ---------------------------------------------------------------------------
# numpy-vectorized hashing for 8-byte (numeric) inputs


def _murmur64_fixed8_np(k1_arr, seed: int):
    """Vectorized murmur3_x64_128 h1 for exactly-8-byte inputs: with no
    16-byte block, the tail is the whole input, so the hash collapses to
    ~15 uint64 ops. k1_arr is a uint64 array of the LE-interpreted input
    longs; returns uint64 h1."""
    import numpy as np

    with np.errstate(over="ignore"):
        u = lambda x: np.uint64(x)  # noqa: E731
        k1 = k1_arr.astype(np.uint64, copy=True)
        h1 = np.full(k1.shape, seed, dtype=np.uint64)
        h2 = h1.copy()
        k1 *= u(_C1)
        k1 = (k1 << u(31)) | (k1 >> u(33))
        k1 *= u(_C2)
        h1 ^= k1
        h1 ^= u(8)
        h2 ^= u(8)
        h1 += h2
        h2 += h1

        def fmix(k):
            k ^= k >> u(33)
            k *= u(0xFF51AFD7ED558CCD)
            k ^= k >> u(33)
            k *= u(0xC4CEB9FE1A85EC53)
            k ^= k >> u(33)
            return k

        h1 = fmix(h1)
        h2 = fmix(h2)
        h1 += h2
        return h1


def hash_column_np(values, dtype: str, seed: int = DEFAULT_SEED):
    """63-bit sketch hashes for a pandas Series / numpy array.

    Numeric dtypes use the vectorized fixed-8-byte murmur kernel;
    strings hash per row (cold path). NaN/None produce 0 (= rejected,
    no sketch slot)."""
    import numpy as np
    import pandas as pd

    if dtype in ("int", "long"):
        ser = pd.Series(values)
        mask = ser.notna().to_numpy()
        k1 = np.zeros(len(ser), dtype=np.uint64)
        if mask.any():
            k1[mask] = ser[mask].astype(np.int64).to_numpy().view(np.uint64)
        out = _murmur64_fixed8_np(k1, seed) >> np.uint64(1)
        out[~mask] = 0
        return out
    if dtype in ("float", "double"):
        arr = pd.Series(values).astype(np.float64).to_numpy()
        mask = ~np.isnan(arr)
        canon = np.where(arr == 0.0, 0.0, arr)  # -0.0 -> +0.0
        k1 = canon.view(np.uint64).copy()
        k1[~mask] = 0
        out = _murmur64_fixed8_np(k1, seed) >> np.uint64(1)
        out[~mask] = 0
        return out
    if dtype == "string":
        out = np.zeros(len(values), dtype=np.uint64)
        for i, v in enumerate(values):
            if v is None or (isinstance(v, float) and v != v) or v == "":
                continue
            out[i] = ds_hash_bytes(str(v).encode("utf-8"), seed)
        return out
    raise ValueError(f"unsupported hash dtype {dtype!r}")


_SPARK_TO_HASH_DTYPE = {
    "int": "long",  # update(int) promotes to long (UpdateSketch.update(int))
    "integer": "long",
    "smallint": "long",
    "tinyint": "long",
    "bigint": "long",
    "long": "long",
    "float": "double",  # Java widens float -> update(double)
    "double": "double",
    "string": "string",
}

