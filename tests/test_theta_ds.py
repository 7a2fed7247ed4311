"""DataSketches-binary-compatible theta sketch (operators/theta_ds.py).

Validates the public compact-sketch layout structurally (preamble bytes,
all four layouts), the murmur3 x64 128 implementation (pure-Python vs
the vectorized numpy fixed-8-byte kernel), set algebra accuracy, and the
distributed Spark path. Where the `datasketches` python lib is present
(not in this container) the serde cross-checks byte-for-byte against it.
"""

from __future__ import annotations

import random
import struct

import pytest

from hurricanedb_spark.operators import theta_ds as t
from hurricanedb_spark.operators.raw_partial import DigestSpec, digests_by_group


def test_murmur_python_vs_numpy_fixed8():
    import numpy as np

    rng = random.Random(7)
    longs = [rng.randrange(-(2**63), 2**63) for _ in range(500)] + [0, -1, 2**63 - 1]
    k1 = np.array([x & (2**64 - 1) for x in longs], dtype=np.uint64)
    vec = t._murmur64_fixed8_np(k1, t.DEFAULT_SEED)
    for i, x in enumerate(longs):
        h1, _ = t.murmur3_x64_128(struct.pack("<q", x), t.DEFAULT_SEED)
        assert int(vec[i]) == h1, f"mismatch for long {x}"


def test_murmur_block_and_tail_lengths():
    # exercise every tail length 0..15 plus multi-block inputs; the
    # pure-Python impl must be self-consistent (prefix-free: different
    # inputs hash differently) and deterministic
    seen = set()
    for n in range(64):
        data = bytes(range(n % 256))[:n] if n else b""
        h = t.murmur3_x64_128(data, 0)
        assert h not in seen
        seen.add(h)
        assert h == t.murmur3_x64_128(data, 0)


def test_hash_column_np_matches_scalar_path():
    import numpy as np

    vals = [3, -17, None, 2**40, 0]
    out = t.hash_column_np(vals, "long")
    for i, v in enumerate(vals):
        if v is None:
            assert out[i] == 0
        else:
            assert int(out[i]) == t.ds_hash_bytes(struct.pack("<q", v))
    dvals = [1.5, -0.0, float("nan"), 3.25]
    dout = t.hash_column_np(np.array(dvals), "double")
    assert int(dout[0]) == t.ds_hash_bytes(struct.pack("<d", 1.5))
    # -0.0 canonicalizes to +0.0 (UpdateSketch.update(double))
    assert int(dout[1]) == t.ds_hash_bytes(struct.pack("<d", 0.0))
    assert dout[2] == 0  # NaN -> no slot
    sout = t.hash_column_np(["a", "", None, "ü"], "string")
    assert int(sout[0]) == t.ds_hash_bytes(b"a")
    assert sout[1] == 0 and sout[2] == 0
    assert int(sout[3]) == t.ds_hash_bytes("ü".encode("utf-8"))


def test_seed_hash_nonzero_and_stable():
    sh = t.compute_seed_hash(t.DEFAULT_SEED)
    assert 0 < sh <= 0xFFFF
    assert sh == t.compute_seed_hash(t.DEFAULT_SEED)
    assert sh != t.compute_seed_hash(123)


@pytest.mark.parametrize(
    "n,k", [(0, 64), (1, 64), (40, 64), (5000, 64), (5000, 4096)]
)
def test_serde_round_trip_all_layouts(n, k):
    sk = t.build_sketch(range(n), k=k)
    data = t.serialize(sk)
    back = t.deserialize(data, t.compute_seed_hash(t.DEFAULT_SEED))
    assert back == sk
    # structural checks on the public layout
    assert data[1] == 3  # serVer
    assert data[2] == 3  # family COMPACT
    flags = data[5]
    assert flags & 8 and flags & 16 and flags & 2  # COMPACT|ORDERED|READ_ONLY
    pre_longs = data[0] & 0x3F
    if n == 0:
        assert flags & 4 and len(data) == 8 and pre_longs == 1
    elif n == 1:
        assert not flags & 4 and len(data) == 16 and pre_longs == 1
    elif n <= k:
        assert pre_longs == 2 and len(data) == 16 + 8 * n
        assert sk.theta_long == t.MAX_THETA
    else:
        assert pre_longs == 3
        assert len(data) == 24 + 8 * k
        assert sk.is_estimation and len(sk.hashes) == k
    # hashes are serialized ascending (ORDERED flag honored)
    off = 8 * pre_longs
    hs = struct.unpack_from(f"<{len(sk.hashes)}q", data, off)
    assert list(hs) == sorted(hs)


def test_deserialize_guards():
    sk = t.build_sketch(range(100), k=64)
    data = t.serialize(sk)
    with pytest.raises(ValueError, match="seed hash mismatch"):
        t.deserialize(data, expected_seed_hash=1)
    with pytest.raises(ValueError, match="serVer"):
        t.deserialize(data[:1] + b"\x02" + data[2:])
    with pytest.raises(ValueError, match="family"):
        t.deserialize(data[:2] + b"\x07" + data[3:])
    with pytest.raises(ValueError, match="too short"):
        t.deserialize(b"\x01\x03")


def test_estimate_accuracy_lgk12():
    n = 200_000
    sk = t.build_sketch(range(n), k=4096)
    # RSE ~ 1/sqrt(k) ~ 1.6%; allow 5%
    assert abs(sk.estimate() - n) / n < 0.05


def test_exact_below_k():
    sk = t.build_sketch([f"doc-{i}" for i in range(1000)], k=4096)
    assert sk.estimate() == 1000.0
    assert not sk.is_estimation


def test_union_exact_and_estimation():
    a = t.build_sketch(range(0, 2500), k=4096)
    b = t.build_sketch(range(2000, 4000), k=4096)
    u = t.union([a, b], k=4096)
    assert u.estimate() == 4000.0  # still exact below k
    big_a = t.build_sketch(range(0, 60_000), k=1024)
    big_b = t.build_sketch(range(40_000, 100_000), k=1024)
    u2 = t.union([big_a, big_b], k=1024)
    assert abs(u2.estimate() - 100_000) / 100_000 < 0.10


def test_intersect_and_difference():
    a = t.build_sketch(range(0, 80_000), k=4096)
    b = t.build_sketch(range(40_000, 120_000), k=4096)
    inter = t.intersect(a, b)
    assert abs(inter.estimate() - 40_000) / 40_000 < 0.10
    diff = t.a_not_b(a, b)
    assert abs(diff.estimate() - 40_000) / 40_000 < 0.10


def test_eval_set_tree_exact_and_estimation():
    """eval_set_tree folds a parsed set-expression tree through
    union/intersect/a_not_b: exact below k, bounded error above, and
    structurally nested trees evaluate like direct set algebra."""
    import random

    rng = random.Random(42)
    # exact regime: random nested trees vs python sets
    for _ in range(25):
        sets = [set(rng.sample(range(3000), rng.randint(100, 1500)))
                for _ in range(3)]
        sks = [t.build_sketch(s, k=8192) for s in sets]
        tree = ("diff", [("union", [0, 1]), ("intersect", [1, 2])])
        want = len((sets[0] | sets[1]) - (sets[1] & sets[2]))
        got = t.eval_set_tree(tree, sks, 8192).estimate()
        assert got == want
    # estimation regime: bounded error
    big = [t.build_sketch(range(0, 80_000), k=1024),
           t.build_sketch(range(40_000, 120_000), k=1024)]
    est = t.eval_set_tree(("intersect", [0, 1]), big, 1024).estimate()
    assert abs(est - 40_000) / 40_000 < 0.15
    with pytest.raises(ValueError, match="unknown theta set operation"):
        t.eval_set_tree(("xor", [0, 1]), big, 1024)


def test_mixed_seed_rejected():
    a = t.build_sketch(range(10), seed=t.DEFAULT_SEED)
    b = t.build_sketch(range(10), seed=123)
    with pytest.raises(ValueError, match="different seed hashes"):
        t.union([a, b])


def test_union_idempotent_and_commutative():
    a = t.build_sketch(range(0, 50_000), k=512)
    b = t.build_sketch(range(25_000, 75_000), k=512)
    assert t.union([a, a], k=512) == t.from_hashes(
        a.hashes, 512, a.seed_hash, a.theta_long
    )
    assert t.union([a, b], k=512) == t.union([b, a], k=512)


def test_cross_check_against_datasketches_lib():
    """Byte-level interop with the real Apache DataSketches python lib.

    Skips in this container (lib absent); runs wherever it exists —
    proving sketches round-trip with real Pinot/Druid deployments."""
    ds = pytest.importorskip("datasketches")
    ours = t.build_sketch(range(10_000), k=4096)
    theirs = ds.update_theta_sketch(12)
    for i in range(10_000):
        theirs.update(i)
    compact = theirs.compact()
    # their bytes parse in our reader with matching estimate
    parsed = t.deserialize(
        compact.serialize(), t.compute_seed_hash(t.DEFAULT_SEED)
    )
    assert abs(parsed.estimate() - compact.get_estimate()) < 1e-6
    # our bytes parse in their reader
    theirs_view = ds.compact_theta_sketch.deserialize(t.serialize(ours))
    assert abs(theirs_view.get_estimate() - ours.estimate()) < 1e-6
    # identical value hashing: exact same retained hash sets below k
    assert set(parsed.hashes) == set(ours.hashes)


def test_spark_theta_ds_by_group(spark, sf_dir):
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    out = digests_by_group(
        li, ["l_returnflag"], [DigestSpec("sketch", "l_partkey", "theta", 4096)]
    ).collect()
    exact = {
        r["l_returnflag"]: r["cnt"]
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("cnt"))
        .collect()
    }
    assert len(out) == len(exact)
    sh = t.compute_seed_hash(t.DEFAULT_SEED)
    sketches = {}
    for row in out:
        sk = t.deserialize(bytes(row["sketch"]), sh)
        sketches[row["l_returnflag"]] = sk
        n = exact[row["l_returnflag"]]
        assert abs(sk.estimate() - n) / max(n, 1) < 0.05
    # merged per-group sketches == global distinct (the merge-forever
    # contract the reference's raw sketch bytes exist for)
    global_exact = li.select("l_partkey").distinct().count()
    merged = t.union(list(sketches.values()), k=4096)
    assert abs(merged.estimate() - global_exact) / global_exact < 0.05


def test_spark_string_column_and_serde_stability(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    spec = [DigestSpec("sketch", "doc_id", "theta", 1024)]
    out1 = digests_by_group(docs, ["lang"], spec)
    out2 = digests_by_group(docs, ["lang"], spec)
    rows1 = {r["lang"]: bytes(r["sketch"]) for r in out1.collect()}
    rows2 = {r["lang"]: bytes(r["sketch"]) for r in out2.collect()}
    # deterministic bytes regardless of partition evaluation order
    assert rows1 == rows2


def test_native_theta_estimates_plan_without_python(spark, sf_dir):
    """q_theta_sketch_distinct and a BYTES-column estimate run on Spark's
    bundled DataSketches: JVM partial and final aggregates, so the plan
    holds no Python node and exactly one Exchange."""
    import re

    from hurricanedb_spark.queries.datapipe import q_theta_sketch_distinct
    from hurricanedb_spark.sql.dialect import HurricaneSQL

    rows = [
        (i % 2, bytearray(t.serialize(t.build_sketch(range(i, i + 50)))))
        for i in range(0, 200, 40)
    ]
    spark.createDataFrame(rows, "g int, sk binary").createOrReplaceTempView(
        "theta_plan_t"
    )
    bytes_est = HurricaneSQL(spark).sql(
        "SELECT g, distinctCountThetaSketch(sk) AS n FROM theta_plan_t "
        "GROUP BY g",
        default_limit=None,
    )
    for df in (q_theta_sketch_distinct(spark, sf_dir), bytes_est):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert not re.search(r"InPandas|InArrow|Python", plan), plan
        assert len(re.findall(r"\bExchange\b", plan)) == 1, plan
