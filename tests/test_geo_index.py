"""Geo grid index over segment stores — the H3 index analog
(round-7 item 8).

The reference's H3IndexFilterOperator answers
`ST_Distance(col, point) < r` from cell postings
(H3IndexFilterOperator.java:100-160); here the cells are the repo's
documented lat/lon grid (functions/geo.py:geo_grid_cell) and EVERY
candidate re-verifies against the exact haversine residual, so results
equal the expression path in every case: index present/absent, radius
past the cell cap, pole/antimeridian proximity, null points.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from hurricanedb_spark.sources import geo_index as gi
from hurricanedb_spark.sources import pinot_segment as ps
from tests.segment_decodes import collect_decoding

RES = 12  # ~10 km cells at the equator


def _points(rng, n, lon0, lat0, spread):
    lons = lon0 + rng.uniform(-spread, spread, n)
    lats = lat0 + rng.uniform(-spread, spread, n)
    return [f"POINT ({lo:.6f} {la:.6f})" for lo, la in zip(lons, lats)]


@pytest.fixture(scope="module")
def geo_store(tmp_path_factory):
    """Three segments around different cities; segment 2 has NO geo
    index (fallback). Segment 0: Paris area, 1: Tokyo area, 2: mixed
    incl. nulls."""
    base = tmp_path_factory.mktemp("geo_store")
    rng = np.random.default_rng(5)
    specs = [
        (_points(rng, 300, 2.35, 48.85, 0.5), True),       # Paris
        (_points(rng, 300, 139.69, 35.68, 0.5), True),     # Tokyo
        (_points(rng, 150, 2.35, 48.85, 0.5)
         + _points(rng, 149, 139.69, 35.68, 0.5) + [None], False),
    ]
    segs = []
    for si, (pts, with_idx) in enumerate(specs):
        pdf = pd.DataFrame(
            {
                "id": np.arange(len(pts), dtype=np.int64) + 10_000 * si,
                "loc": pd.Series(pts, dtype="object"),
            }
        )
        seg = str(base / f"seg_{si}")
        ps.write_segment_pandas(
            pdf, seg, geo_index_columns={"loc": RES} if with_idx else None
        )
        segs.append(seg)
    return segs


def test_grid_cell_matches_spark_expression(spark):
    # the Python twin and the Spark expression must agree bit for bit
    from hurricanedb_spark.functions.geo import geo_grid_cell, st_point

    rng = np.random.default_rng(9)
    lons = rng.uniform(-180, 180, 200)
    lats = rng.uniform(-90, 90, 200)
    pdf = pd.DataFrame({"lon": lons, "lat": lats})
    df = spark.createDataFrame(pdf).withColumn(
        "cell",
        geo_grid_cell(
            st_point(F.col("lon"), F.col("lat")), RES
        ),
    )
    got = [r["cell"] for r in df.orderBy("lon").collect()]
    order = np.argsort(lons, kind="stable")
    want = [gi.grid_cell(lons[i], lats[i], RES) for i in order]
    assert got == want


RADII = [
    ("paris_20km", 2.35, 48.85, 20_000),
    ("paris_200km", 2.35, 48.85, 200_000),
    ("tokyo_50km", 139.69, 35.68, 50_000),
    ("nowhere_atlantic", -30.0, 20.0, 100_000),  # empty result
    ("huge_fallback", 2.35, 48.85, 3_000_000),   # cell cap -> scan
    ("near_pole_fallback", 10.0, 89.5, 100_000),
]


@pytest.mark.parametrize("name,lon,lat,r", RADII)
def test_geo_radius_accelerated_equals_expression(spark, geo_store, name, lon, lat, r):
    fast = gi.read_segments_geo_radius(spark, geo_store, "loc", lon, lat, r)
    slow = ps.read_segments(spark, geo_store).filter(
        F.expr(gi.radius_residual_expr("loc", lon, lat, r))
    )
    assert sorted(x["id"] for x in fast.collect()) == sorted(
        x["id"] for x in slow.collect()
    )


def test_segment_skip_observable(spark, geo_store):
    # Paris radius prunes the Tokyo segment; the index-less segment
    # always survives
    fast = gi.read_segments_geo_radius(
        spark, geo_store, "loc", 2.35, 48.85, 20_000
    )
    assert collect_decoding(fast)[1] == 2


def test_candidate_cells_superset_property():
    """Every point within the radius must land in a candidate cell —
    the bbox-superset invariant the allowlist soundness rests on."""
    rng = np.random.default_rng(17)
    for _ in range(50):
        lon0 = float(rng.uniform(-150, 150))
        lat0 = float(rng.uniform(-60, 60))
        r = float(rng.uniform(1_000, 500_000))
        cells = gi.radius_candidate_cells(lon0, lat0, r, RES)
        if cells is None:
            continue
        cs = set(cells)
        # sample points on the disk boundary and inside
        for _ in range(40):
            theta = float(rng.uniform(0, 2 * np.pi))
            frac = float(rng.uniform(0, 1.0))
            dlat = np.degrees(frac * r / gi.EARTH_RADIUS_M) * np.sin(theta)
            dlon = np.degrees(
                frac * r / (gi.EARTH_RADIUS_M * np.cos(np.radians(lat0)))
            ) * np.cos(theta)
            plon, plat = lon0 + dlon, lat0 + dlat
            if not (-180 <= plon <= 180 and -90 <= plat <= 90):
                continue
            assert gi.grid_cell(plon, plat, RES) in cs, (lon0, lat0, r)


def test_round_trip_postings(geo_store):
    idx = gi.read_geo_index(geo_store[0], "loc")
    assert idx.resolution == RES
    pdf = ps.read_segment_pandas(geo_store[0])
    # every doc's cell posting contains the doc
    for i, wkt in enumerate(pdf["loc"]):
        lon, lat = gi.parse_wkt_point(wkt)
        docs = idx.doc_ids_in_cells([gi.grid_cell(lon, lat, RES)])
        assert i in set(int(x) for x in docs)


def test_geo_index_requires_wkt_string(tmp_path):
    pdf = pd.DataFrame({"v": np.arange(5, dtype=np.int64)})
    with pytest.raises(ps.UnsupportedSegmentError):
        ps.write_segment_pandas(
            pdf, str(tmp_path / "g1"), geo_index_columns={"v": 8}
        )
    pdf2 = pd.DataFrame({"s": ["not a point", "POINT (1 2)"]})
    with pytest.raises(ValueError):
        ps.write_segment_pandas(
            pdf2, str(tmp_path / "g2"), geo_index_columns={"s": 8}
        )


def test_dialect_geo_radius_rewrite(spark, geo_store):
    import os

    from hurricanedb_spark.sql.dialect import HurricaneSQL

    hq = HurricaneSQL(spark)
    hq.register_segment_table("geo_docs", os.path.dirname(geo_store[0]))
    # scan-path truth: the SAME rows as a plain (non-segment) view, so
    # hq.sql translates the macros but never rebinds the source
    ps.read_segments(spark, geo_store).createOrReplaceTempView("geo_plain")

    def run(q, accel_expected):
        fast = [r["id"] for r in hq.sql(q).collect()]
        assert hq.last_geo_radius_accel is accel_expected
        slow = [
            r["id"]
            for r in hq.sql(q.replace("geo_docs", "geo_plain")).collect()
        ]
        assert not hq.last_geo_radius_accel
        assert fast == slow
        return fast

    rows = run(
        "SELECT id FROM geo_docs "
        "WHERE STDISTANCE(STGEOMFROMTEXT(loc), STPOINT(2.35, 48.85)) < 20000 "
        "ORDER BY id LIMIT 10000",
        True,
    )
    assert len(rows) > 0
    # underscore spelling
    run(
        "SELECT id FROM geo_docs "
        "WHERE ST_DISTANCE(ST_GEOMFROMTEXT(loc), ST_POINT(139.69, 35.68)) < 50000 "
        "ORDER BY id LIMIT 10000",
        True,
    )
    # > comparison: not the supported shape -> scan, same results
    run(
        "SELECT id FROM geo_docs "
        "WHERE STDISTANCE(STGEOMFROMTEXT(loc), STPOINT(2.35, 48.85)) > 20000 "
        "ORDER BY id LIMIT 10000",
        False,
    )
