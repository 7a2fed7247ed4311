"""Clearspring-wire-format raw HLL (round-10 ADVICE item).

The reference's distinctCountRawHLL[MV] serializes the clearspring
HyperLogLog (CustomSerDeUtils.java:157-166 -> HyperLogLog.getBytes) in
the lowercase-hex STRING envelope; clients persist / deserialize /
re-merge those strings, so the contract is byte-level: registers, hash
(MurmurHash2-64A over Java toString bytes) and packing must match.
operators/clearspring_hll implements the public stream-lib format;
these tests pin the wire layout, the Java number-formatting rules the
hash depends on, the merge algebra, and the SQL surface (including the
two-phase partial build and the BYTES-column format sniff).
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from hurricanedb_spark.operators.clearspring_hll import (
    ClearspringHLL,
    _java_double_str,
    _java_float_str,
    build_hll,
    is_clearspring_hll,
    merge_hlls,
    murmur64,
)
from hurricanedb_spark.sql.dialect import HurricaneSQL


def test_wire_layout_header_and_size():
    """getBytes layout: int log2m, int size*4, int[size] register words
    (big-endian); RegisterSet packs SIX 5-bit registers per 32-bit word,
    size = count/6 (+1 unless divisible by 32)."""
    for log2m, want_len in ((8, 180), (12, 2740), (4, 20)):
        b = ClearspringHLL(log2m).serialize()
        assert len(b) == want_len, (log2m, len(b))
        got_log2m, nbytes = struct.unpack_from(">ii", b, 0)
        assert got_log2m == log2m and nbytes == len(b) - 8
        assert is_clearspring_hll(b)
    assert not is_clearspring_hll(b"\x01\x01\x07\x00" + b"\x00" * 16)  # DS-ish


def test_register_packing_positions():
    """set(position p) lands in word p//6 at bit 5*(p%6) — the
    RegisterSet layout deserialization must invert exactly."""
    h = ClearspringHLL(8)
    h.registers[0] = 3
    h.registers[5] = 7  # same word, highest slot
    h.registers[6] = 1  # next word, lowest slot
    b = h.serialize()
    (w0,) = struct.unpack_from(">i", b, 8)
    (w1,) = struct.unpack_from(">i", b, 12)
    assert w0 == 3 | (7 << 25)
    assert w1 == 1
    back = ClearspringHLL.deserialize(b)
    assert (back.registers == h.registers).all()


def test_murmur2_64a_known_behavior():
    """MurmurHash2-64A self-consistency + avalanche sanity: equal input
    equal hash, 1-byte change flips ~half the bits, 8-byte block path
    and tail path both covered."""
    assert murmur64(b"42") == murmur64(b"42")
    a, b = murmur64(b"hello-world-0"), murmur64(b"hello-world-1")
    assert a != b and bin(a ^ b).count("1") > 16
    assert murmur64(b"") != murmur64(b"\x00")


def test_java_number_formatting():
    cases = [
        (1.0, "1.0"), (0.001, "0.001"), (1e-4, "1.0E-4"), (1e7, "1.0E7"),
        (9999999.0, "9999999.0"), (-2.5, "-2.5"), (123.456, "123.456"),
        (1e16, "1.0E16"), (1.25e-7, "1.25E-7"), (0.0, "0.0"),
        (-0.0, "-0.0"), (float("inf"), "Infinity"), (float("nan"), "NaN"),
    ]
    for v, want in cases:
        assert _java_double_str(v) == want, v
    # float32 shortest repr, not the float64 expansion: Java
    # Float.toString(0.1f) == "0.1", never "0.10000000149011612"
    assert _java_float_str(0.1) == "0.1"
    assert _java_float_str(np.float32(1.5)) == "1.5"
    assert _java_float_str(1e10) == "1.0E10"


def test_int_long_same_hash_space():
    """Java Integer.toString(5) == Long.toString(5): INT and LONG
    columns of equal values must produce identical sketches."""
    import pandas as pd

    vals = pd.Series([1, 2, 3, 4000])
    assert build_hll(vals, "int", 8) == build_hll(vals, "bigint", 8)
    # DOUBLE 5.0 renders "5.0" != LONG "5" — distinct hash spaces by
    # design (the reference offers boxed values through toString)
    assert build_hll(vals, "double", 8) != build_hll(vals, "bigint", 8)


def test_estimate_accuracy_and_linear_counting():
    h = ClearspringHLL(11)
    for i in range(20000):
        h.offer_bytes(str(i).encode())
    assert abs(h.cardinality() - 20000) / 20000 < 0.05
    small = ClearspringHLL(11)
    for i in range(10):
        small.offer_bytes(f"v{i}".encode())
    assert small.cardinality() == 10  # linear-counting regime is exact-ish
    assert ClearspringHLL(8).cardinality() == 0


def test_zero_zeros_small_range_returns_java_long_max():
    """stream-lib takes the linear-counting branch UNCONDITIONALLY when
    estimate <= 2.5m: with zero empty registers Java computes
    Math.round(m * log(m / 0.0)) = Math.round(Infinity) = Long.MAX_VALUE.
    Reachable at small log2m (log2m=4, ~2m distinct offers); estimate
    parity is the contract, so the faithful value is reproduced."""
    from hurricanedb_spark.operators.clearspring_hll import JAVA_LONG_MAX

    h = ClearspringHLL(4)  # m=16
    i = 0
    while (h.registers == 0).any():
        h.offer_bytes(f"zz{i}".encode())
        i += 1
    m = 16.0
    regs = h.registers.astype("float64")
    est = _alpha_mm(4, m) / float(np.sum(np.exp2(-regs)))
    if est <= 2.5 * m:  # the divergent branch — reachable by this fill
        assert h.cardinality() == JAVA_LONG_MAX
    else:  # filled past the small-range regime: normal estimate applies
        assert h.cardinality() == int(est + 0.5)


def _alpha_mm(log2m: int, m: float) -> float:
    if log2m == 4:
        return 0.673 * m * m
    if log2m == 5:
        return 0.697 * m * m
    if log2m == 6:
        return 0.709 * m * m
    return (0.7213 / (1 + 1.079 / m)) * m * m


def test_merge_hlls_all_null_returns_null():
    """A group whose BYTES column is all NULL aggregates to NULL (the
    hll_union_agg contract) instead of failing the query."""
    assert merge_hlls([]) is None
    assert merge_hlls([None, None]) is None
    one = ClearspringHLL(8)
    one.offer_bytes(b"x")
    assert merge_hlls([None, one.serialize()]) == one.serialize()


def test_merge_is_register_max_and_size_checked():
    full, a, b = (ClearspringHLL(10) for _ in range(3))
    for i in range(2000):
        t = str(i).encode()
        (a if i % 2 else b).offer_bytes(t)
        full.offer_bytes(t)
    merged = ClearspringHLL.deserialize(
        merge_hlls([a.serialize(), b.serialize()])
    )
    assert (merged.registers == full.registers).all()
    with pytest.raises(ValueError, match="different sizes"):
        merge_hlls([ClearspringHLL(8).serialize(), ClearspringHLL(9).serialize()])


@pytest.fixture(scope="module")
def hdb(spark):
    import pandas as pd

    rng = np.random.default_rng(11)
    pdf = pd.DataFrame(
        {
            "g": rng.choice(["x", "y"], size=3000),
            "v": rng.integers(0, 800, size=3000),
        }
    )
    h = HurricaneSQL(spark)
    h.register("cs_t", spark.createDataFrame(pdf))
    return h


def test_sql_raw_hll_two_phase_and_estimate(hdb, spark):
    """SQL surface: hex envelope, clearspring bytes, two-phase build
    (MapInArrow partials — no whole-group raw-value pandas agg), and
    the estimate tracks the exact distinct count."""
    df = hdb.sql(
        "SELECT g, distinctCountRawHLL(v, 12) AS sk FROM cs_t GROUP BY g",
        default_limit=None,
    )
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "MapInArrow" in plan and "ArrowAggregatePython" not in plan
    exact = {
        r["g"]: r["dc"]
        for r in spark.sql(
            "SELECT g, count(DISTINCT v) AS dc FROM cs_t GROUP BY g"
        ).collect()
    }
    rows = df.collect()  # one action; the two-phase agg is the expensive bit
    for r in rows:
        assert r["sk"] == r["sk"].lower()
        blob = bytes.fromhex(r["sk"])
        assert is_clearspring_hll(blob)
        est = ClearspringHLL.deserialize(blob).cardinality()
        want = exact[r["g"]]
        assert abs(est - want) <= max(2, want * 0.05)
    # scalar loop-closure like thetaSketchEstimate
    one = rows[0]["sk"]
    est2 = spark.sql(
        f"SELECT clearspringhllcard('{one}') AS e"
    ).collect()[0]["e"]
    assert est2 == ClearspringHLL.deserialize(bytes.fromhex(one)).cardinality()


def test_sql_raw_hll_persist_and_remerge(hdb, spark):
    """The raw form's contract: per-slice sketches persisted and
    RE-MERGED equal the all-rows sketch byte-for-byte (register max
    commutes)."""
    per = hdb.sql(
        "SELECT g, distinctCountRawHLL(v) AS sk FROM cs_t GROUP BY g",
        default_limit=None,
    ).collect()
    full = hdb.sql(
        "SELECT distinctCountRawHLL(v) AS sk FROM cs_t",
        default_limit=None,
    ).collect()[0]["sk"]
    remerged = merge_hlls([bytes.fromhex(r["sk"]) for r in per])
    assert remerged.hex() == full


def test_bytes_column_clearspring_sniff(hdb, spark):
    """A BYTES column holding clearspring sketches (what the raw form
    emits) unions through the clearspring kernel; DataSketches-format
    columns (engine rollup state) keep hll_union_agg — the dispatch
    sniffs one value."""
    per = hdb.sql(
        "SELECT g, unhex(distinctCountRawHLL(v)) AS sk FROM cs_t GROUP BY g",
        default_limit=None,
    )
    hdb.register("cs_bytes_t", per)
    est = hdb.sql(
        "SELECT distinctCountHLL(sk) AS dc FROM cs_bytes_t",
        default_limit=None,
    ).collect()[0]["dc"]
    exact = spark.sql(
        "SELECT count(DISTINCT v) AS dc FROM cs_t"
    ).collect()[0]["dc"]
    assert abs(est - exact) <= max(2, exact * 0.05)
    raw = hdb.sql(
        "SELECT distinctCountRawHLL(sk) AS m FROM cs_bytes_t",
        default_limit=None,
    ).collect()[0]["m"]
    full = hdb.sql(
        "SELECT distinctCountRawHLL(v) AS sk FROM cs_t", default_limit=None
    ).collect()[0]["sk"]
    assert raw == full  # union of the per-group sketches == direct build


def test_bytes_column_dispatch_on_join_and_cte_shapes(hdb, spark):
    """Round-11: the BYTES type dispatch resolves join/CTE FROM shapes
    too. Before, a joined BYTES sketch column silently took the VALUE
    path — distinctCountHLL counted distinct BLOBS (here 2) instead of
    unioning the stored sketches (~800 distinct values)."""
    per = hdb.sql(
        "SELECT g, unhex(distinctCountRawHLL(v)) AS sk FROM cs_t GROUP BY g",
        default_limit=None,
    )
    hdb.register("cs_bytes_j", per)
    hdb.register(
        "cs_dim_j",
        spark.createDataFrame([("x", "fam"), ("y", "fam")], "g string, f string"),
    )
    exact = spark.sql("SELECT count(DISTINCT v) AS dc FROM cs_t").collect()[0][
        "dc"
    ]
    est = hdb.sql(
        "SELECT f, distinctCountHLL(sk) AS dc FROM cs_bytes_j "
        "JOIN cs_dim_j ON cs_bytes_j.g = cs_dim_j.g GROUP BY f",
        default_limit=None,
    ).collect()[0]["dc"]
    # sketch union estimate, emphatically not the 2-blob distinct count
    assert abs(est - exact) <= max(2, exact * 0.05), (est, exact)
    cte = hdb.sql(
        "WITH src AS (SELECT sk FROM cs_bytes_j) "
        "SELECT distinctCountHLL(sk) AS dc FROM src",
        default_limit=None,
    ).collect()[0]["dc"]
    assert abs(cte - exact) <= max(2, exact * 0.05), (cte, exact)
    # raw form over the join: merged sketch == direct full build
    raw = hdb.sql(
        "SELECT distinctCountRawHLL(sk) AS m FROM cs_bytes_j "
        "JOIN cs_dim_j ON cs_bytes_j.g = cs_dim_j.g",
        default_limit=None,
    ).collect()[0]["m"]
    full = hdb.sql(
        "SELECT distinctCountRawHLL(v) AS sk FROM cs_t", default_limit=None
    ).collect()[0]["sk"]
    assert raw == full


def test_bytes_column_all_null_group_yields_null(hdb, spark):
    """clearspringhllunion / clearspringhllunionest over the
    collect_list of a group whose BYTES column is all NULL must return
    NULL for that group, not fail the query (round-10 ADVICE)."""
    one = ClearspringHLL(8)
    one.offer_bytes(b"only")
    df = spark.createDataFrame(
        [("a", None), ("a", None), ("b", bytearray(one.serialize()))],
        "g string, sk binary",
    )
    hdb.register("cs_null_t", df)
    rows = {
        r["g"]: (r["u"], r["e"])
        for r in spark.sql(
            "SELECT g, clearspringhllunion(collect_list(sk)) AS u, "
            "clearspringhllunionest(collect_list(sk)) AS e "
            "FROM cs_null_t GROUP BY g"
        ).collect()
    }
    assert rows["a"] == (None, None)
    assert bytes(rows["b"][0]) == one.serialize() and rows["b"][1] == 1


def test_bytes_column_unions_on_no_rows_and_beside_theta(hdb, spark):
    """Both clearspring forms over a BYTES column are JVM aggregates: a
    global aggregate over no rows returns one row holding the empty
    sketch (of the call's log2m) and 0, as the reference does, and one
    SELECT holds them beside a theta union and COUNT(*). Pinned byte
    for byte on no rows and on all rows."""
    import base64

    from hurricanedb_spark.operators.theta_ds import (
        build_sketch,
        deserialize,
        serialize,
        union,
    )

    hlls, thetas = [], []
    for i in range(4):
        vals = list(range(100 * i, 100 * i + 150))
        h = ClearspringHLL(8)
        for v in vals:
            h.offer_bytes(str(v).encode())
        hlls.append(h.serialize())
        thetas.append(serialize(build_sketch(vals)))
    hdb.register("cs_theta_t", spark.createDataFrame(
        [(i, bytearray(h), bytearray(t)) for i, (h, t) in enumerate(zip(hlls, thetas))],
        "p int, sk binary, th binary",
    ))
    full = merge_hlls(hlls)
    for where, raw, raw12, est, theta, n in (
        ("p < 0", ClearspringHLL(8).serialize(), ClearspringHLL(12).serialize(),
         0, serialize(union([])), 0),
        ("p >= 0", full, full, ClearspringHLL.deserialize(full).cardinality(),
         serialize(union([deserialize(t) for t in thetas], k=4096)), 4),
    ):
        rows = hdb.sql(
            "SELECT distinctCountRawHLL(sk) AS raw, distinctCountRawHLL(sk, 12) AS raw12, "
            "distinctCountHLL(sk) AS est, distinctCountRawThetaSketch(th) AS theta, "
            f"COUNT(*) AS n FROM cs_theta_t WHERE {where}",
            default_limit=None,
        ).collect()
        assert [(bytes.fromhex(r["raw"]), bytes.fromhex(r["raw12"]), r["est"],
                 base64.b64decode(r["theta"]), r["n"]) for r in rows] == [
            (raw, raw12, est, theta, n)]
