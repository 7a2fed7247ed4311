"""Differential fuzz for the qualifier strip.

For a query over one FROM shape (a bare table, an aliased table, a
subquery, a CTE or a join), the qualified spelling (`t.col`) and the
unqualified spelling are the SAME query — so across a seeded space of
FROM shapes, aggregate choices (two-phase digests, mode-AVG, bounded MV
percentile), group-key spellings, aliases, HAVING and ORDER BY, the two
spellings must return identical rows, and both must restructure (no
ArrowAggregatePython / collect_list for any shape or spelling).

This pins the space around _strip_tail_qualifiers the way the theta
fuzz pins the set-op rewrites: any future edge where the strip rewrites
to something semantically different (instead of declining) shows up as
a row mismatch here.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from hurricanedb_spark.sql.dialect import HurricaneSQL


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def qf(spark):  # noqa: F811
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(41)
    n = 600
    pdf = pd.DataFrame(
        {
            "g": rng.choice(["a", "b", "c", "d"], size=n),
            "v": rng.integers(0, 10_000, size=n),
            "d": rng.normal(100.0, 25.0, size=n).round(3),
        }
    )
    pdf.loc[::23, "v"] = None
    h = HurricaneSQL(spark)
    h.register(
        "qf_t",
        spark.createDataFrame(pdf)
        .withColumn("v", F.col("v").cast("bigint"))
        .withColumn("arr", F.array(F.col("d"), F.col("d") * 2, F.col("d") * 3)),
    )
    # join key named gk on the dim side so unqualified spellings stay
    # unambiguous (same-named keys on both sides are the DECLINE case,
    # covered by test_qualified_ref_strip_safety_fallbacks)
    h.register(
        "qf_dim",
        spark.createDataFrame(
            [("a", "x"), ("b", "x"), ("c", "y"), ("d", "y")],
            "gk string, fam string",
        ),
    )
    return h


AGGS = [
    # (call over qf_t columns, needs_plan_marker)
    ("percentileRawEst({q}v, 50)", "MapInArrow"),
    ("percentileRawTDigest({q}d, 90)", "MapInArrow"),
    ("distinctCountRawThetaSketch({q}v, 'nominalEntries=256')", "MapInArrow"),
    ("distinctCountRawHLL({q}v)", "MapInArrow"),
    ("mode({q}v, 'AVG')", None),  # marker: collect_list must be ABSENT
    ("percentileTDigestMV({q}arr, 95)", None),
]


# FROM shapes: (WITH prefix, FROM clause, qualifier of qf_t's columns).
# The join also carries qf_dim as `d`.
SHAPES = [
    ("", "qf_t", "qf_t."),
    ("", "qf_t x", "x."),
    ("", "qf_t AS x", "x."),
    ("", "(SELECT * FROM qf_t) x", "x."),
    ("WITH s AS (SELECT * FROM qf_t) ", "s", "s."),
    ("", "qf_t t JOIN qf_dim d ON t.g = d.gk", "t."),
]


def _case(rng: random.Random):
    agg, marker = rng.choice(AGGS)
    withp, src, tq = rng.choice(SHAPES)
    key = rng.choice(["fam", "g"]) if "JOIN" in src else "g"
    key_qual = ("d." if key == "fam" else tq) + key
    alias = rng.random() < 0.5
    extra = rng.random() < 0.4  # JVM aggregate alongside -> join-back
    having = rng.random() < 0.3  # qualified ref inside HAVING too

    def build(qual: bool) -> str:
        k = key_qual if qual else key
        q = tq if qual else ""
        call = agg.format(q=q)
        key_sel = f"{k} AS {key}" if alias else k
        sel = f"{key_sel}, {call} AS a0" + (
            ", count(*) AS n" if extra else ""
        )
        hv = f" HAVING min({q}v) >= 0" if having else ""
        return f"{withp}SELECT {sel} FROM {src} GROUP BY {k}{hv} ORDER BY {k}"

    return build(True), build(False), marker


def _rows(df):
    # mode-AVG emits doubles; digests are hex/base64 strings — compare
    # with float rounding to absorb nothing (values must be identical;
    # round only guards repr noise on doubles)
    out = []
    for r in df.collect():
        out.append(
            tuple(
                round(x, 9) if isinstance(x, float) else x for x in r
            )
        )
    return sorted(out)


def test_qualified_vs_unqualified_spellings_agree(qf):
    # cases generated sequentially (deterministic seed), evaluated
    # CONCURRENTLY (guide §2.6; HurricaneSQL.sql is thread-safe —
    # round-16): the 24 independent collect-pairs ran back to back and
    # left the scheduler idle
    from concurrent.futures import ThreadPoolExecutor

    rng = random.Random(1207)
    cases = [_case(rng) for _ in range(24)]

    def eval_one(case):
        qualified, unqualified, marker = case
        dq = qf.sql(qualified, default_limit=None)
        du = qf.sql(unqualified, default_limit=None)
        return _rows(dq), _rows(du), _plan(dq), _plan(du)

    with ThreadPoolExecutor(max_workers=8) as pool:
        evaluated = list(pool.map(eval_one, cases))
    checked_markers = 0
    for i, ((qualified, _unq, marker), (rq, ru, pq, pu)) in enumerate(
        zip(cases, evaluated)
    ):
        assert rq == ru, (i, qualified)
        if marker == "MapInArrow":
            # the unqualified form restructures; the qualified one must
            # not fall back to the raw-value grouped agg
            assert "MapInArrow" in pu and "ArrowAggregatePython" not in pu
            assert "MapInArrow" in pq and "ArrowAggregatePython" not in pq
            checked_markers += 1
        else:
            assert "collect_list" not in pu.lower()
            assert "collect_list" not in pq.lower(), (i, qualified)
    assert checked_markers >= 8  # the digest forms actually sampled


def test_ambiguous_join_columns_restructure_via_projection(qf, spark):
    """Round-13 (r12 verdict #2 done-criterion): a qualified ref whose
    bare name exists on BOTH join sides — the strip's hard decline case
    — restructures through alias PROJECTION with the same plan class as
    the unambiguous spelling, and identical rows. The decoy `v` on the
    dim side carries different values, so a mis-bound projection would
    change the digests, not only the plan."""
    qf.register(
        "qf_amb",
        spark.sql(
            "SELECT gk, fam, 42 AS v FROM qf_dim"  # decoy v on dim side
        ),
    )
    rng = random.Random(1309)
    checked = 0
    for agg, marker in AGGS:
        call = agg.format(q="t.")
        ambiguous = (
            f"SELECT t.g, {call} AS a0 FROM qf_t t "
            "JOIN qf_amb d ON t.g = d.gk GROUP BY t.g ORDER BY t.g"
        )
        baseline = (
            f"SELECT g, {agg.format(q='')} AS a0 FROM qf_t t "
            "JOIN (SELECT gk FROM qf_amb) d ON t.g = d.gk "
            "GROUP BY g ORDER BY g"
        )
        dq = qf.sql(ambiguous, default_limit=None)
        du = qf.sql(baseline, default_limit=None)
        pq, pu = _plan(dq), _plan(du)
        if marker == "MapInArrow":
            assert "MapInArrow" in pu and "ArrowAggregatePython" not in pu
            assert (
                "MapInArrow" in pq and "ArrowAggregatePython" not in pq
            ), agg
        else:
            # mode-AVG / bounded MV: the projection keeps the bounded
            # restructure too — no collect_list buffer reappears just
            # because the spelling forced the ambiguous decline
            assert "collect_list" not in pu.lower()
            assert "collect_list" not in pq.lower(), agg
        assert _rows(dq) == _rows(du), agg
        checked += 1
    assert checked == 6


def test_qualified_star_expands_and_restructures(qf):
    """Round-14 (r13 verdict #3): `d.*` in the select list of a
    restructurable digest query expands against the analyzed subtree
    schema (each of d's columns under its own name) and then rides the
    normal strip / alias-projection path — the digest forms must show
    MapInArrow (no single-phase fallback just because the user wrote a
    qualified star), with rows identical to the explicit spelling."""
    checked = 0
    for agg, marker in AGGS:
        call = agg.format(q="t.")
        star = (
            f"SELECT d.*, {call} AS a0 FROM qf_t t "
            "JOIN qf_dim d ON t.g = d.gk "
            "GROUP BY d.gk, d.fam ORDER BY d.gk"
        )
        explicit = (
            f"SELECT d.gk, d.fam, {call} AS a0 FROM qf_t t "
            "JOIN qf_dim d ON t.g = d.gk "
            "GROUP BY d.gk, d.fam ORDER BY d.gk"
        )
        ds = qf.sql(star, default_limit=None)
        de = qf.sql(explicit, default_limit=None)
        assert ds.columns == de.columns == ["gk", "fam", "a0"], agg
        assert _rows(ds) == _rows(de), agg
        ps = _plan(ds)
        if marker == "MapInArrow":
            assert (
                "MapInArrow" in ps and "ArrowAggregatePython" not in ps
            ), agg
        else:
            assert "collect_list" not in ps.lower(), agg
        checked += 1
    assert checked == 6


def test_unaliased_composite_restructures_with_pinned_name(qf, spark):
    """Round-15 (r14 verdict #2): a composite select item with dotted
    refs and NO explicit alias — the round-13 decline case of the alias
    projection — restructures with the item pinned back to the
    single-phase form's auto-generated output name (backquoted), so the
    result schema is byte-for-byte what the user would have seen
    without the restructure, and the plan shows MapInArrow partials."""
    from hurricanedb_spark.sql.dialect import (
        rewrite_functions,
        rewrite_json_match,
    )

    qf.register(
        "qf_amb2",
        spark.sql("SELECT gk, fam, 42 AS v FROM qf_dim"),  # decoy v
    )
    checked = 0
    for agg, marker in AGGS:
        if marker != "MapInArrow":
            continue
        call = agg.format(q="t.")
        q = (
            f"SELECT t.g, {call} FROM qf_t t "
            "JOIN qf_amb2 d ON t.g = d.gk GROUP BY t.g ORDER BY t.g"
        )
        dq = qf.sql(q, default_limit=None)
        expected_cols = spark.sql(
            rewrite_functions(rewrite_json_match(q))
        ).columns
        assert dq.columns == expected_cols, (agg, dq.columns, expected_cols)
        plan = _plan(dq)
        assert "MapInArrow" in plan and "ArrowAggregatePython" not in plan, (
            agg
        )
        q_alias = (
            f"SELECT t.g, {call} AS a0 FROM qf_t t "
            "JOIN qf_amb2 d ON t.g = d.gk GROUP BY t.g ORDER BY t.g"
        )
        assert _rows(dq) == _rows(qf.sql(q_alias, default_limit=None)), agg
        checked += 1
    assert checked == 4


def test_select_alias_map_analyzer_confirmation():
    """Round-15 (r14 verdict #6): with the analyzer's positional output
    names, a regex-over-matched implicit alias (`INTERVAL 5 day` ->
    'day') is rejected, while genuine implicit and explicit aliases are
    kept; without names the heuristic stands alone (decline-only-safe)."""
    from hurricanedb_spark.sql.dialect import _select_alias_map

    sel = "t.g, INTERVAL 5 day, t.v AS x, d.fam fam2"
    heur = _select_alias_map(sel)
    assert "day" in heur  # the documented over-match, names absent
    m = _select_alias_map(
        sel, ["g", "INTERVAL '5' DAY", "x", "fam2"]
    )
    assert "day" not in m
    assert m["x"] == "t.v" and m["fam2"] == "d.fam"
    # misaligned name list: falls back to the heuristic, never crashes
    assert "day" in _select_alias_map(sel, ["only_one"])
