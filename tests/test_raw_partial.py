"""Two-phase (partial -> merge) raw digest builders (round-10 item 1).

The reference's aggregation contract is partial/combine/final
(AggregationFunction.java:42-130) — a hot group's raw values never
concentrate on one node. These tests pin the SQL-path restructure
(the raw-digest family of sql/dialect.py's bounded restructures +
operators/raw_partial):

  - executed plans build digests via MapInArrow partials + a grouped
    merge of serialized blobs — the single-phase ArrowAggregatePython
    (whole-group raw-value shuttle) must be ABSENT from restructured
    plans, including a 10M-row single-key hot group;
  - qdigest and theta results are byte-identical to a direct
    single-pass build (both are canonical: value-count trie / k-smallest
    distinct hashes);
  - tdigest keeps its accuracy class (merge-order-dependent bytes, like
    the reference's tdunning digests);
  - non-restructurable shapes still run (single-phase fallback).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hurricanedb_spark.operators.percentile_digest import (
    build_qdigest,
    deserialize_qdigest,
)
from hurricanedb_spark.operators.tdigest import deserialize_tdigest
from hurricanedb_spark.sql.dialect import HurricaneSQL



def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def hdb(spark):  # noqa: F811
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(7)
    pdf = pd.DataFrame(
        {
            "g": rng.choice(["a", "b", "c"], size=4000),
            "v": rng.integers(0, 100_000, size=4000),
            "d": rng.normal(500.0, 100.0, size=4000).round(3),
        }
    )
    # NULL-bearing slice: exercises the dropna + hash-space pin paths
    pdf.loc[::17, "v"] = None
    h = HurricaneSQL(spark)
    h.register(
        "rp_t",
        spark.createDataFrame(pdf).withColumn("v", F.col("v").cast("bigint")),
    )
    return h


def test_qdigest_two_phase_bytes_match_direct_build(hdb, spark):  # noqa: F811
    df = hdb.sql(
        "SELECT g, percentileRawEst(v, 50) AS qd FROM rp_t GROUP BY g",
        default_limit=None,
    )
    plan = _plan(df)
    assert "MapInArrow" in plan and "FlatMapGroupsInPandas" in plan
    assert "ArrowAggregatePython" not in plan
    got = {r["g"]: r["qd"] for r in df.collect()}
    rows = spark.table("rp_t").select("g", "v").collect()
    for key in ("a", "b", "c"):
        vals = [int(r["v"]) for r in rows if r["g"] == key and r["v"] is not None]
        assert got[key] == build_qdigest(vals).hex()


def test_theta_two_phase_bytes_match_direct_build(hdb, spark):  # noqa: F811
    import base64

    from hurricanedb_spark.operators.theta_ds import (
        DEFAULT_SEED,
        compute_seed_hash,
        from_hashes,
        hash_column_np,
        serialize,
    )

    df = hdb.sql(
        "SELECT g, distinctCountRawThetaSketch(v, 'nominalEntries=256') "
        "AS sk FROM rp_t GROUP BY g",
        default_limit=None,
    )
    plan = _plan(df)
    assert "MapInArrow" in plan and "ArrowAggregatePython" not in plan
    got = {r["g"]: base64.b64decode(r["sk"]) for r in df.collect()}
    rows = spark.table("rp_t").select("g", "v").collect()
    seed_hash = compute_seed_hash(DEFAULT_SEED)
    for key in ("a", "b", "c"):
        import pandas as pd

        vals = pd.Series(
            [r["v"] for r in rows if r["g"] == key], dtype="object"
        )
        hs = hash_column_np(vals, "long")
        expect = serialize(
            from_hashes((int(h) for h in hs if h), 256, seed_hash), 8
        )
        assert got[key] == expect


def test_tdigest_two_phase_quantile_accuracy(hdb, spark):  # noqa: F811
    df = hdb.sql(
        "SELECT g, percentileRawTDigest(d, 90) AS td, count(*) AS n "
        "FROM rp_t GROUP BY g",
        default_limit=None,
    )
    # count(*) forces the JOIN-BACK form; still no raw-value pandas agg
    plan = _plan(df)
    assert "MapInArrow" in plan and "ArrowAggregatePython" not in plan
    exact = {
        r["g"]: (r["p"], r["n"])
        for r in spark.sql(
            "SELECT g, percentile(d, 0.9) AS p, count(*) AS n "
            "FROM rp_t GROUP BY g"
        ).collect()
    }
    for r in df.collect():
        td = deserialize_tdigest(bytes.fromhex(r["td"]))
        p, n = exact[r["g"]]
        assert r["n"] == n and td.total_weight == n
        assert abs(td.quantile(0.9) - p) <= abs(p) * 0.02


def test_theta_acc_trim_carries_implied_theta():
    """NDV >> 8*k (the QuickSelect-trim regime the round-10 ADVICE
    flagged): the partial accumulator must record the implied theta —
    the (k+1)-th smallest hash — at trim time, reject later arrivals
    >= it, and pass it to from_hashes at emit. Without that, a trim on
    the partition's LAST batch emitted an 'exact mode' sketch whose
    estimate is k (up to 8x undercount), and re-admitted
    above-threshold hashes broke byte-identity with the direct build."""
    import numpy as np
    import pandas as pd

    from hurricanedb_spark.operators.raw_partial import (
        DigestSpec,
        _make_acc_factory,
    )
    from hurricanedb_spark.operators.theta_ds import (
        DEFAULT_SEED,
        compute_seed_hash,
        deserialize,
        from_hashes,
        hash_column_np,
        serialize,
    )

    spec = DigestSpec(alias="s", value_col="v", kind="theta", k=16)
    acc_cls = _make_acc_factory(spec, "long")
    rng = np.random.default_rng(3)
    vals = rng.choice(1_000_000, size=2000, replace=False).astype("int64")
    seed_hash = compute_seed_hash(DEFAULT_SEED)
    hs = hash_column_np(pd.Series(vals, dtype="int64"), "long")
    expect = serialize(
        from_hashes((int(h) for h in hs if h), 16, seed_hash), 4
    )

    # trims firing mid-stream across several batches (2000 >> 8*16=128)
    acc = acc_cls()
    for chunk in np.array_split(vals, 7):
        acc.update(pd.Series(chunk, dtype="int64"))
    assert acc.emit() == expect

    # the ADVICE regime: ONE batch crosses 8*k and is the partition's
    # last — the trim happens with nothing after it
    acc2 = acc_cls()
    acc2.update(pd.Series(vals, dtype="int64"))
    blob = acc2.emit()
    assert blob == expect
    sk = deserialize(blob)
    # estimate ~2000, emphatically not the k=16 'exact mode' undercount
    assert abs(sk.estimate() - 2000) / 2000 < 0.25


def test_theta_trim_regime_sql_bytes_match_direct_build(hdb, spark):  # noqa: F811
    """End-to-end SQL: nominalEntries=16 over groups with NDV ~1300
    (>> 8*16) — the two-phase result must stay byte-identical to a
    direct single-pass build through the trim regime."""
    import base64

    from hurricanedb_spark.operators.theta_ds import (
        DEFAULT_SEED,
        compute_seed_hash,
        from_hashes,
        hash_column_np,
        serialize,
    )

    df = hdb.sql(
        "SELECT g, distinctCountRawThetaSketch(v, 'nominalEntries=16') "
        "AS sk FROM rp_t GROUP BY g",
        default_limit=None,
    )
    plan = _plan(df)
    assert "MapInArrow" in plan and "ArrowAggregatePython" not in plan
    got = {r["g"]: base64.b64decode(r["sk"]) for r in df.collect()}
    rows = spark.table("rp_t").select("g", "v").collect()
    seed_hash = compute_seed_hash(DEFAULT_SEED)
    for key in ("a", "b", "c"):
        import pandas as pd

        vals = pd.Series(
            [r["v"] for r in rows if r["g"] == key], dtype="object"
        )
        hs = hash_column_np(vals, "long")
        expect = serialize(
            from_hashes((int(h) for h in hs if h), 16, seed_hash), 4
        )
        assert got[key] == expect


def test_global_empty_input_keeps_one_row(hdb):
    df = hdb.sql(
        "SELECT percentileRawEst(v, 50) AS qd FROM rp_t WHERE v < -1",
        default_limit=None,
    )
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0]["qd"] == build_qdigest([]).hex()
    # an aliased table restructures like the bare one: one row, holding
    # the empty digest (the single-phase grouped agg returned no row)
    for src in ("rp_t x", "rp_t AS x"):
        aliased = hdb.sql(
            f"SELECT percentileRawEst(x.v, 50) AS qd FROM {src} WHERE x.v < -1",
            default_limit=None,
        ).collect()
        assert [r["qd"] for r in aliased] == [build_qdigest([]).hex()], src


def test_aliased_table_restructures_two_phase(hdb):
    """`FROM t x` and `FROM t AS x` take the two-phase path like `FROM
    t`: the plan has MapInArrow partials and no whole-group grouped agg,
    and the rows and column names (an unaliased item keeps its
    single-phase name) equal the bare spelling's, digest bytes included."""
    bare = hdb.sql(
        "SELECT g, percentileRawEst(v, 50), percentileRawTDigest(d, 90) AS td "
        "FROM rp_t GROUP BY g ORDER BY g",
        default_limit=None,
    )
    want = bare.collect()
    for src, q in (("rp_t t", ""), ("rp_t AS t", "t.")):
        df = hdb.sql(
            f"SELECT {q}g, percentileRawEst({q}v, 50), "
            f"percentileRawTDigest({q}d, 90) AS td "
            f"FROM {src} GROUP BY {q}g ORDER BY {q}g",
            default_limit=None,
        )
        plan = _plan(df)
        assert "MapInArrow" in plan and "ArrowAggregatePython" not in plan, src
        assert df.columns == bare.columns, src
        assert df.collect() == want, src


def test_restructure_notes_name_family_and_refs(hdb, spark):  # noqa: F811
    """Each restructure leaves one note: its family, and how qualified
    outer refs were resolved (None: there were none; "strip": to bare
    columns; "project": as generated aliases of the source)."""
    # g on both join sides: `t.g` is ambiguous once stripped
    hdb.register("rp_dim4", spark.createDataFrame(
        [("a", "x"), ("b", "y"), ("c", "y")], "g string, fam string"
    ))
    cases = [
        ("SELECT percentileRawEst(v, 50) AS qd FROM rp_t x", None),
        (
            "SELECT d.fam, percentileRawEst(t.v, 50) AS qd FROM rp_t t "
            "JOIN rp_dim4 d ON t.g = d.g GROUP BY d.fam",
            "strip",
        ),
        (
            "SELECT t.g, percentileRawEst(t.v, 50) AS qd FROM rp_t t "
            "JOIN rp_dim4 d ON t.g = d.g GROUP BY t.g",
            "project",
        ),
    ]
    for q, refs in cases:
        hdb.sql(q, default_limit=None)
        notes = [n for n in hdb._request.notes if "restructure" in n]
        assert notes == [{"restructure": "raw_digest", "refs": refs}], q


def test_reserved_source_name_falls_back(hdb):
    """A user CTE named like the generated source (_rdsrc) cannot take
    the restructure; the query keeps the single-phase form and its rows."""
    df = hdb.sql(
        "WITH _rdsrc AS (SELECT g, v FROM rp_t) "
        "SELECT g, percentileRawEst(v, 50) AS qd FROM _rdsrc GROUP BY g "
        "ORDER BY g",
        default_limit=None,
    )
    assert not [n for n in hdb._request.notes if "restructure" in n]
    assert "ArrowAggregatePython" in _plan(df)
    want = hdb.sql(
        "SELECT g, percentileRawEst(v, 50) AS qd FROM rp_t GROUP BY g ORDER BY g",
        default_limit=None,
    ).collect()
    assert df.collect() == want


def test_mixed_kinds_single_view_and_oby(hdb):
    """Multiple digest kinds build in ONE partial pass; ORDER BY on the
    group key stays on the pure path."""
    df = hdb.sql(
        "SELECT g, percentileRawEst(v, 50) AS qd, "
        "percentileRawTDigest(d, 95) AS td FROM rp_t GROUP BY g ORDER BY g",
        default_limit=None,
    )
    plan = _plan(df)
    # formatted plans print each node twice (tree + detail section);
    # "MapInArrow (" matches the tree entry once per physical node
    assert plan.count("MapInArrow (") == 1  # one shared partial pass
    assert "ArrowAggregatePython" not in plan
    keys = [r["g"] for r in df.collect()]
    assert keys == sorted(keys)


def test_join_shape_restructures_two_phase(hdb, spark):  # noqa: F811
    """Round-11 (r10 verdict #5): a JOIN-shaped raw-digest query routes
    through the named-subtree wrap — the executed plan shows MapInArrow
    partials over the join output and NO ArrowAggregatePython
    (whole-group raw-value shuttle), and the digest bytes equal a direct
    single-pass build (the reference streams partials for every shape,
    ServerRequestPlanVisitor.java:79-133 + AggregationFunction.java)."""
    hdb.register("rp_dim", spark.createDataFrame(
        [("a", "x"), ("b", "y"), ("c", "y")], "g string, fam string"
    ))
    df = hdb.sql(
        "SELECT fam, percentileRawEst(v, 50) AS qd FROM rp_t "
        "JOIN rp_dim ON rp_t.g = rp_dim.g GROUP BY fam",
        default_limit=None,
    )
    plan = _plan(df)
    assert "MapInArrow" in plan and "FlatMapGroupsInPandas" in plan
    assert "ArrowAggregatePython" not in plan
    rows = spark.table("rp_t").join(
        spark.table("rp_dim"), "g"
    ).select("fam", "v").collect()
    got = {r["fam"]: r["qd"] for r in df.collect()}
    for fam in ("x", "y"):
        vals = [
            int(r["v"]) for r in rows if r["fam"] == fam and r["v"] is not None
        ]
        assert got[fam] == build_qdigest(vals).hex()


def test_cte_shape_restructures_two_phase(hdb, spark):  # noqa: F811
    """A WITH-prefixed query wraps its subtree and restructures; the
    theta bytes stay identical to a direct build over the CTE output."""
    import base64

    from hurricanedb_spark.operators.theta_ds import (
        DEFAULT_SEED,
        compute_seed_hash,
        from_hashes,
        hash_column_np,
        serialize,
    )

    df = hdb.sql(
        "WITH big AS (SELECT g, v FROM rp_t WHERE v >= 50000) "
        "SELECT g, distinctCountRawThetaSketch(v, 'nominalEntries=256') "
        "AS sk FROM big GROUP BY g",
        default_limit=None,
    )
    plan = _plan(df)
    assert "MapInArrow" in plan and "ArrowAggregatePython" not in plan
    got = {r["g"]: base64.b64decode(r["sk"]) for r in df.collect()}
    rows = spark.table("rp_t").filter("v >= 50000").select("g", "v").collect()
    seed_hash = compute_seed_hash(DEFAULT_SEED)
    for key in ("a", "b", "c"):
        import pandas as pd

        vals = pd.Series(
            [r["v"] for r in rows if r["g"] == key], dtype="object"
        )
        hs = hash_column_np(vals, "long")
        expect = serialize(
            from_hashes((int(h) for h in hs if h), 256, seed_hash), 8
        )
        assert got[key] == expect


def test_qualified_refs_restructure_two_phase(hdb, spark):  # noqa: F811
    """Round-12 (r11 verdict #1): the MOST COMMON join spelling —
    qualified `t.col` refs in the outer SELECT/GROUP BY — streams
    MapInArrow partials too. The subtree wrap strips the qualifiers
    against the collapsed view's schema instead of bailing to the
    single-phase grouped agg, and the digest bytes stay equal to a
    direct build (the reference's leaf stages stream partials for every
    spelling, ServerRequestPlanVisitor.java:79-133)."""
    hdb.register("rp_dim2", spark.createDataFrame(
        [("a", "x"), ("b", "y"), ("c", "y")], "g string, fam string"
    ))
    df = hdb.sql(
        "SELECT rp_dim2.fam, percentileRawEst(rp_t.v, 50) AS qd FROM rp_t "
        "JOIN rp_dim2 ON rp_t.g = rp_dim2.g GROUP BY rp_dim2.fam",
        default_limit=None,
    )
    plan = _plan(df)
    assert "MapInArrow" in plan and "FlatMapGroupsInPandas" in plan
    assert "ArrowAggregatePython" not in plan
    rows = spark.table("rp_t").join(
        spark.table("rp_dim2"), "g"
    ).select("fam", "v").collect()
    got = {r["fam"]: r["qd"] for r in df.collect()}
    for fam in ("x", "y"):
        vals = [
            int(r["v"]) for r in rows if r["fam"] == fam and r["v"] is not None
        ]
        assert got[fam] == build_qdigest(vals).hex()


def test_qualified_ref_strip_safety_fallbacks(hdb, spark):  # noqa: F811
    """The strip's decline cases — a dotted ref whose bare name appears
    on BOTH join sides (ambiguous after collapse) and STRUCT field
    access `s.field` (the qualifier is itself a view column) — must
    still produce correct results. Round-13 (r12 verdict #2): they now
    restructure TWO-PHASE via alias projection (the ref is projected
    into the subtree view under a generated alias, resolved in the
    original FROM scope where its binding is unambiguous), instead of
    falling back to the single-phase grouped agg."""
    hdb.register("rp_amb", spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "g string, v bigint"
    ))
    # rp_t.v vs rp_amb.v: 'v' lands twice in SELECT * over the join —
    # stripping would be ambiguous; projection binds by relation alias
    df = hdb.sql(
        "SELECT rp_amb.g, percentileRawEst(rp_t.v, 50) AS qd FROM rp_t "
        "JOIN rp_amb ON rp_t.g = rp_amb.g GROUP BY rp_amb.g",
        default_limit=None,
    )
    plan = _plan(df)
    assert "MapInArrow" in plan and "ArrowAggregatePython" not in plan
    rows = spark.table("rp_t").select("g", "v").collect()
    got = {r["g"]: r["qd"] for r in df.collect()}
    for key in ("a", "b", "c"):
        vals = [int(r["v"]) for r in rows if r["g"] == key and r["v"] is not None]
        assert got[key] == build_qdigest(vals).hex()
    # struct field access: `s.band` must bind to the struct FIELD, not
    # the same-named top-level column `band` (different values by
    # construction) — the projection preserves that binding
    hdb.register(
        "rp_struct",
        spark.sql(
            "SELECT g, v, named_struct('band', CASE WHEN v < 50000 "
            "THEN 'lo' ELSE 'hi' END) AS s, 'all' AS band "
            "FROM rp_t"
        ),
    )
    df2 = hdb.sql(
        "SELECT s.band, percentileRawEst(v, 50) AS qd "
        "FROM (SELECT * FROM rp_struct) GROUP BY s.band",
        default_limit=None,
    )
    plan2 = _plan(df2)
    assert "MapInArrow" in plan2 and "ArrowAggregatePython" not in plan2
    got2 = {r["band"]: r["qd"] for r in df2.collect()}
    rows2 = spark.table("rp_struct").select("s.band", "v").collect()
    for band in ("lo", "hi"):
        vals = [
            int(r["v"])
            for r in rows2
            if r["band"] == band and r["v"] is not None
        ]
        assert got2[band] == build_qdigest(vals).hex()
    # a qualified STAR stays out of scope: single-phase, still correct
    df3 = hdb.sql(
        "SELECT rp_amb.g, percentileRawEst(rp_t.v, 50) AS qd FROM rp_t "
        "JOIN rp_amb ON rp_t.g = rp_amb.g GROUP BY rp_amb.g "
        "ORDER BY rp_amb.g",
        default_limit=None,
    )
    assert "MapInArrow" in _plan(df3)  # chains restructure with ORDER BY too
    got3 = [r["qd"] for r in df3.collect()]
    assert got3 == [got["a"], got["b"], got["c"]]


def test_map_dot_access_qualifier_declines(hdb, spark):  # noqa: F811
    """Round-12 ADVICE (medium): Spark resolves dot syntax on MapType
    (`m.key` -> GetMapValue) too, not only on structs. A ref like
    `m.score` where `m` is a map column and `score` is a unique
    top-level column must NOT strip to bare `score` — that would
    silently rebind a map lookup to a different column AND the dry-run
    analysis would pass (both spellings analyze). The strip treats
    map / array-of-struct columns as dot-accessible and declines;
    round-13's alias projection then restructures the query anyway,
    binding `m.score` in the original scope (the map lookup)."""
    hdb.register(
        "rp_map",
        spark.sql(
            "SELECT g, v, map('score', CASE WHEN v < 50000 THEN 0 ELSE 1 "
            "END) AS m, 9 AS score FROM rp_t"
        ),
    )
    df = hdb.sql(
        "SELECT m.score AS band, percentileRawEst(v, 50) AS qd "
        "FROM (SELECT * FROM rp_map) GROUP BY m.score",
        default_limit=None,
    )
    # projected -> two-phase, with the MAP binding preserved
    plan = _plan(df)
    assert "MapInArrow" in plan and "ArrowAggregatePython" not in plan
    got = {r["band"]: r["qd"] for r in df.collect()}
    # the map value (0/1), NOT the constant top-level score (9)
    assert set(got) == {0, 1}
    rows = spark.table("rp_map").select(
        F.col("m")["score"].alias("band"), "v"
    ).collect()
    for band in (0, 1):
        vals = [
            int(r["v"])
            for r in rows
            if r["band"] == band and r["v"] is not None
        ]
        assert got[band] == build_qdigest(vals).hex()


def test_order_by_alias_rebind_declines(hdb, spark):  # noqa: F811
    """Round-12 ADVICE (medium): ORDER BY resolves against select-list
    ALIASES first. `SELECT d.fam AS g ... ORDER BY t.g` sorts by the
    input column t.g — but stripped to `ORDER BY g` it would sort by
    the alias (= fam), silently reordering rows (and changing them
    under LIMIT) while still analyzing fine. The strip declines on
    such alias collisions; round-13's alias projection restructures
    instead, with the ORDER BY bound to the projected input column —
    the sort order is the proof (the generated __q aliases can never
    collide with user select aliases)."""
    hdb.register("rp_dim3", spark.createDataFrame(
        [("a", "z"), ("b", "m"), ("c", "a")], "gk string, fam string"
    ))
    df = hdb.sql(
        "SELECT d.fam AS g, percentileRawEst(t.v, 50) AS qd "
        "FROM rp_t t JOIN rp_dim3 d ON t.g = d.gk "
        "GROUP BY d.fam, t.g ORDER BY t.g",
        default_limit=None,
    )
    plan = _plan(df)
    assert "MapInArrow" in plan and "ArrowAggregatePython" not in plan
    # row order follows t.g (a,b,c) -> fam sequence z,m,a; the rebind
    # would have produced fam order a,m,z
    assert [r["g"] for r in df.collect()] == ["z", "m", "a"]
    # positive control: an alias over the SAME column keeps the
    # restructure (no false declines for the common spelling)
    df2 = hdb.sql(
        "SELECT t.g AS g, percentileRawEst(t.v, 50) AS qd "
        "FROM rp_t t JOIN rp_dim3 d ON t.g = d.gk "
        "GROUP BY t.g ORDER BY t.g",
        default_limit=None,
    )
    plan2 = _plan(df2)
    assert "MapInArrow" in plan2 and "ArrowAggregatePython" not in plan2
    assert [r["g"] for r in df2.collect()] == ["a", "b", "c"]


def test_set_operations_fall_back(hdb, spark):  # noqa: F811
    """Set operations keep the single-phase grouped-agg — still
    correct, documented bound."""
    df2 = hdb.sql(
        "SELECT percentileRawEst(v, 50) AS qd FROM "
        "(SELECT v FROM rp_t UNION SELECT v + 1000000 AS v FROM rp_t)",
        default_limit=None,
    )
    assert "ArrowAggregatePython" in _plan(df2)
    vals = sorted(
        {int(r["v"]) for r in spark.table("rp_t").collect() if r["v"] is not None}
        | {
            int(r["v"]) + 1000000
            for r in spark.table("rp_t").collect()
            if r["v"] is not None
        }
    )
    assert df2.collect()[0]["qd"] == build_qdigest(vals).hex()


def test_float_group_key_two_phase_keeps_nan_null_distinct(spark):  # noqa: F811
    """Round-12 (r11 verdict #6): floating-point group keys take the
    two-phase path too. Arrow delivers NULL doubles as NaN inside the
    partial phase, so digests_by_group threads an explicit is-NaN marker
    key through the partials and the merge — a genuine NaN key and a
    NULL key stay distinct groups, and each digest is byte-equal to a
    direct build over exactly its group's rows."""
    import math

    hdb = HurricaneSQL(spark)
    rows = [
        (1.5, 10),
        (1.5, 20),
        (float("nan"), 30),
        (float("nan"), 40),
        (None, 50),
    ]
    hdb.register(
        "rp_fkey", spark.createDataFrame(rows, "g double, v bigint")
    )
    df = hdb.sql(
        "SELECT g, percentileRawEst(v, 50) AS qd FROM rp_fkey GROUP BY g",
        default_limit=None,
    )
    plan = _plan(df)
    assert "MapInArrow" in plan and "ArrowAggregatePython" not in plan
    got = {}
    for r in df.collect():
        key = (
            "nan"
            if r["g"] is not None and math.isnan(r["g"])
            else ("null" if r["g"] is None else r["g"])
        )
        got[key] = r["qd"]
    assert len(got) == 3
    assert got[1.5] == build_qdigest([10, 20]).hex()
    assert got["nan"] == build_qdigest([30, 40]).hex()
    assert got["null"] == build_qdigest([50]).hex()
    # join-back form (extra JVM aggregate) over a float key: the view's
    # restored NaN key must <=>-match the outer grouping
    df2 = hdb.sql(
        "SELECT g, percentileRawEst(v, 50) AS qd, count(*) AS n "
        "FROM rp_fkey GROUP BY g",
        default_limit=None,
    )
    plan2 = _plan(df2)
    assert "MapInArrow" in plan2 and "ArrowAggregatePython" not in plan2
    got2 = {}
    for r in df2.collect():
        key = (
            "nan"
            if r["g"] is not None and math.isnan(r["g"])
            else ("null" if r["g"] is None else r["g"])
        )
        got2[key] = (r["qd"], r["n"])
    assert got2 == {
        1.5: (build_qdigest([10, 20]).hex(), 2),
        "nan": (build_qdigest([30, 40]).hex(), 2),
        "null": (build_qdigest([50]).hex(), 1),
    }
    assert got[1.5] == build_qdigest([10, 20]).hex()
    assert got["nan"] == build_qdigest([30, 40]).hex()
    assert got["null"] == build_qdigest([50]).hex()


def test_hot_group_partial_aggregation_bounded(spark):  # noqa: F811
    """The round-9 verdict's done-criterion: >=10M rows concentrated in
    ONE key, digest built through partial aggregation — the executed
    plan must show MapInArrow partials (no whole-group raw-value
    shuttle to a single pandas worker), and the result must equal the
    exact order statistic (qdigest is exact-regime)."""
    n = 10_000_000
    hdb = HurricaneSQL(spark)
    hdb.register(
        "rp_hot",
        spark.range(n).select(
            F.lit("hot").alias("g"),
            (F.col("id") % 1000).cast("long").alias("v"),
        ),
    )
    df = hdb.sql(
        "SELECT g, percentileRawEst(v, 50) AS qd FROM rp_hot GROUP BY g",
        default_limit=None,
    )
    plan = _plan(df)
    assert "MapInArrow" in plan and "FlatMapGroupsInPandas" in plan
    assert "ArrowAggregatePython" not in plan
    [row] = df.collect()
    qd = deserialize_qdigest(bytes.fromhex(row["qd"]))
    assert qd.total_weight == n
    # 0..999 uniform: the 50th percentile upper bound is 499 or 500
    assert abs(qd.quantile(0.5) - 499.5) <= 0.5


def test_filtered_theta_two_phase_matches_single_phase(hdb, spark):  # noqa: F811
    """The FILTERED set-op raw theta form routes through the two-phase
    builder on single-table shapes: one CASE-filtered spec per referenced
    sketch, set ops folded over the MERGED sketches. Output must be
    byte-identical to the single-phase emission (union of partials keeps
    the same k smallest distinct hashes; compact serialization is
    canonical)."""
    body = (
        "SELECT g, distinctCountRawThetaSketch(v, 'nominalEntries=256', "
        "'d > 500', 'v % 2 = 0', 'SET_INTERSECT($1, $2)') AS sk "
        "FROM {src} GROUP BY g"
    )
    two = hdb.sql(body.format(src="rp_t"), default_limit=None)
    plan = _plan(two)
    assert "MapInArrow" in plan and "ArrowAggregatePython" not in plan
    # a set operation in the FROM subtree still defeats the wrap (r12:
    # qualified refs no longer do — they restructure), forcing the
    # single-phase grouped agg for the byte comparison; UNION ALL keeps
    # the row multiset identical to rp_t
    single = hdb.sql(
        "SELECT g, distinctCountRawThetaSketch(v, "
        "'nominalEntries=256', 'd > 500', 'v % 2 = 0', "
        "'SET_INTERSECT($1, $2)') AS sk "
        "FROM (SELECT * FROM rp_t WHERE v IS NULL UNION ALL "
        "SELECT * FROM rp_t WHERE v IS NOT NULL) GROUP BY g",
        default_limit=None,
    )
    assert "ArrowAggregatePython" in _plan(single)
    got_two = {r["g"]: r["sk"] for r in two.collect()}
    got_one = {r["g"]: r["sk"] for r in single.collect()}
    assert got_two == got_one and len(got_two) == 3


def test_filtered_theta_two_phase_diff_with_default_sketch(hdb, spark):  # noqa: F811
    """SET_DIFF($0, $1): the $0 default (unfiltered) sketch and a filter
    that matches NOTHING in some group — the empty per-group CASE column
    must emit an empty sketch (not NULL), leaving the diff == $0."""
    import base64

    from hurricanedb_spark.operators.theta_ds import deserialize

    df = hdb.sql(
        "SELECT g, distinctCountRawThetaSketch(v, 'nominalEntries=4096', "
        "'v < -999', 'SET_DIFF($0, $1)') AS sk FROM rp_t GROUP BY g",
        default_limit=None,
    )
    plan = _plan(df)
    assert "MapInArrow" in plan and "ArrowAggregatePython" not in plan
    exact = {
        r["g"]: r["n"]
        for r in spark.sql(
            "SELECT g, count(DISTINCT v) AS n FROM rp_t GROUP BY g"
        ).collect()
    }
    for r in df.collect():
        sk = deserialize(base64.b64decode(r["sk"]))
        # NDV per group << nominalEntries=4096 -> sketch is exact
        assert round(sk.estimate()) == exact[r["g"]]


def test_two_phase_digests_exact_longs_past_2_53(spark):  # noqa: F811
    """Round-14 (extends the r13 idset ADVICE to every exact-valued
    digest): a null-bearing BIGINT Arrow batch degrades to float64,
    rounding ids past 2^53 BEFORE the accumulators run — theta/HLL hash
    and qdigest count the EXACT long in the reference wire contracts.
    digests_by_group now ships BIGINT inputs as decimal strings; the
    built digests must be byte-identical to direct builds over the
    exact values."""
    from hurricanedb_spark.operators.clearspring_hll import build_hll
    from hurricanedb_spark.operators.raw_partial import (
        DigestSpec,
        digests_by_group,
    )
    from hurricanedb_spark.operators.theta_ds import (
        DEFAULT_SEED,
        compute_seed_hash,
        from_hashes,
        hash_column_np,
        serialize,
    )

    import pandas as pd

    big = 2**61
    ids = [big + i for i in range(64)] + [-(2**60) - i for i in range(64)]
    rows = [("a", v) for v in ids] + [("a", None)] * 4
    df = spark.createDataFrame(rows, "g string, v bigint")
    out = digests_by_group(
        df,
        ["g"],
        [
            DigestSpec("th", "v", "theta", 4096, ""),
            DigestSpec("hl", "v", "hll", 8, ""),
            DigestSpec("qd", "v", "qdigest", 0, ""),
        ],
    ).collect()[0]
    # direct theta over the EXACT longs
    hs = {
        int(h)
        for h in hash_column_np(pd.Series(ids, dtype="int64"), "long")
        if h
    }
    want_theta = serialize(
        from_hashes(hs, 4096, compute_seed_hash(DEFAULT_SEED)), 12
    )
    assert bytes(out["th"]) == want_theta
    # direct clearspring HLL over the EXACT longs
    assert bytes(out["hl"]) == build_hll(
        pd.Series(ids, dtype="int64"), "bigint", 8
    )
    # qdigest counts keyed by the EXACT longs
    got_qd = deserialize_qdigest(bytes(out["qd"]))
    want_qd = deserialize_qdigest(build_qdigest(ids))
    assert got_qd == want_qd or bytes(out["qd"]) == build_qdigest(ids)


def test_single_phase_raw_hll_qdigest_exact_longs(spark):  # noqa: F811
    """Round-14: the SINGLE-PHASE grouped-agg forms (the fallback for
    non-restructurable spellings) get the same decimal-string channel —
    rawclearspringhll and rawqdigest over a null-bearing BIGINT batch
    must hash/count the EXACT longs, byte-identical to direct builds."""
    import pandas as pd

    from hurricanedb_spark.functions.registry import register_all
    from hurricanedb_spark.operators.clearspring_hll import build_hll
    from hurricanedb_spark.sql.dialect import rewrite_functions

    register_all(spark)
    big = 2**61
    ids = [big + i for i in range(40)] + [-(2**59) - 3 * i for i in range(40)]
    rows = [(v,) for v in ids] + [(None,)] * 3
    spark.createDataFrame(rows, "v bigint").createOrReplaceTempView(
        "sp_big_t"
    )
    got = spark.sql(
        rewrite_functions(
            "SELECT distinctCountRawHLL(v) AS h, percentileRawEst(v, 50) "
            "AS q FROM sp_big_t"
        )
    ).collect()[0]
    assert got["h"] == build_hll(
        pd.Series(ids, dtype="int64"), "bigint", 8
    ).hex()
    assert got["q"] == build_qdigest(ids).hex()


def test_single_phase_raw_theta_exact_longs(spark):  # noqa: F811
    """Round-14: rawthetasketch (the filtered/raw single-phase theta
    builder — its CASE WHEN filter forms ALWAYS inject nulls, so BIGINT
    batches ALWAYS degrade) hashes the EXACT longs via the string
    channel; bytes identical to a direct build over exact values, and
    the filtered form's $0/$1 sketches intersect correctly."""
    import pandas as pd

    from hurricanedb_spark.functions.registry import register_all
    from hurricanedb_spark.operators.theta_ds import (
        DEFAULT_SEED,
        compute_seed_hash,
        from_hashes,
        hash_column_np,
        serialize,
    )
    from hurricanedb_spark.sql.dialect import rewrite_functions

    register_all(spark)
    big = 2**61
    ids = [big + i for i in range(50)] + [-(2**59) - 7 * i for i in range(30)]
    rows = [(v, v >= 0) for v in ids] + [(None, True)] * 3
    spark.createDataFrame(rows, "v bigint, flag boolean").createOrReplaceTempView(
        "sp_theta_big"
    )
    got = spark.sql(
        rewrite_functions(
            "SELECT distinctCountRawThetaSketch(v, 'nominalEntries=4096') "
            "AS sk FROM sp_theta_big"
        )
    ).collect()[0]["sk"]
    hs = {
        int(h)
        for h in hash_column_np(pd.Series(ids, dtype="int64"), "long")
        if h
    }
    want = serialize(
        from_hashes(hs, 4096, compute_seed_hash(DEFAULT_SEED)), 12
    )
    import base64 as b64

    assert b64.b64decode(got) == want
    # filtered form: the $1 (flagged) sketch holds exactly the huge
    # positives — an intersect with $0 must count them, not 0
    est = spark.sql(
        rewrite_functions(
            "SELECT distinctCountThetaSketch(v, 'nominalEntries=4096', "
            "'flag', 'SET_INTERSECT($0, $1)') AS n FROM sp_theta_big "
        )
    ).collect()[0]["n"]
    assert est == 50, est


def test_two_phase_exact_group_keys_past_2_53(spark):  # noqa: F811
    """Round-15 (mapInArrow): BIGINT GROUP KEYS survive the partial
    phase exactly even when the key column carries nulls. Under
    mapInPandas a null-bearing int64 key batch degraded to float64,
    so two adjacent huge keys (2^60 and 2^60+1) rounded to the SAME
    float and their digests silently merged into one group."""
    import pandas as pd

    from hurricanedb_spark.operators.percentile_digest import (
        build_qdigest,
        deserialize_qdigest,
    )
    from hurricanedb_spark.operators.raw_partial import (
        DigestSpec,
        digests_by_group,
    )

    k1, k2 = 1 << 60, (1 << 60) + 1  # same float64 image
    rows = [(k1, 10), (k1, 11), (k2, 20), (None, 30)]
    df = spark.createDataFrame(rows, "g bigint, v bigint").repartition(2)
    out = digests_by_group(df, ["g"], [DigestSpec("qd", "v", "qdigest")])
    got = {r["g"]: bytes(r["qd"]) for r in out.collect()}
    assert set(got) == {k1, k2, None}, sorted(got, key=str)
    assert deserialize_qdigest(got[k1]) == deserialize_qdigest(
        build_qdigest([10, 11])
    )
    assert deserialize_qdigest(got[k2]) == deserialize_qdigest(
        build_qdigest([20])
    )
    assert deserialize_qdigest(got[None]) == deserialize_qdigest(
        build_qdigest([30])
    )
