"""CRS reprojection: EPSG:4326 <-> EPSG:3035 (LAEA) column math, numpy
WKB kernel, and the fix-it wiring behind the CRS mismatch guard."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from pygridmap_spark.core import crs as CRS
from pygridmap_spark.core import wkb as WKB
from pygridmap_spark.functions import reproject as RP


def test_known_value_epsg_example():
    """EPSG Guidance Note 7-2 worked example for method 1027 (ETRS89-LAEA):
    50N 5E -> E 3962799.45, N 2999718.85 (published to cm)."""
    x, y = RP.laea_forward_np(np.array([5.0]), np.array([50.0]))
    assert abs(x[0] - 3962799.45) < 0.02, x[0]
    assert abs(y[0] - 2999718.85) < 0.02, y[0]
    lon, lat = RP.laea_inverse_np(x, y)
    # inverse authalic series truncation is ~2e-9 deg
    assert abs(lon[0] - 5.0) < 1e-8 and abs(lat[0] - 50.0) < 1e-8


def test_equal_area_property():
    """Independent correctness pin: LAEA must preserve areas. Projected
    polygon area of lon/lat cells == the exact ellipsoidal zone-band area
    (closed-form integral — derived separately from the projection)."""
    for lo0, lo1, la0, la1 in [(9.9, 10.1, 51.9, 52.1), (4, 6, 49, 51), (-10, -8, 35, 37)]:
        t = np.linspace(0.0, 1.0, 200)
        bl = np.concatenate(
            [lo0 + (lo1 - lo0) * t, np.full_like(t, lo1), lo1 + (lo0 - lo1) * t, np.full_like(t, lo0)]
        )
        bb = np.concatenate(
            [np.full_like(t, la0), la0 + (la1 - la0) * t, np.full_like(t, la1), la1 + (la0 - la1) * t]
        )
        x, y = RP.laea_forward_np(bl, bb)
        projected = 0.5 * abs(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1)))

        def zone(lat):  # ellipsoid area below latitude (per radian of lon)
            s, e = math.sin(math.radians(lat)), math.sqrt(RP._E2)
            return (1 - RP._E2) * RP._A**2 * (s / (1 - RP._E2 * s * s) + math.atanh(e * s) / e) / 2

        true = math.radians(lo1 - lo0) * (zone(la1) - zone(la0))
        # boundary-polyline discretization dominates the 1e-8 residual
        assert abs(projected / true - 1.0) < 1e-7, (lo0, la0)


def test_roundtrip_property_grid():
    """|inverse(forward(p)) - p| < 1e-6 deg over the LAEA domain of use."""
    lon = np.linspace(-25.0, 45.0, 71)
    lat = np.linspace(30.0, 72.0, 43)
    LON, LAT = np.meshgrid(lon, lat)
    x, y = RP.laea_forward_np(LON.ravel(), LAT.ravel())
    lon2, lat2 = RP.laea_inverse_np(x, y)
    assert np.max(np.abs(lon2 - LON.ravel())) < 1e-6
    assert np.max(np.abs(lat2 - LAT.ravel())) < 1e-6
    # origin maps exactly to the false origin
    x0, y0 = RP.laea_forward_np(np.array([10.0]), np.array([52.0]))
    assert abs(x0[0] - 4321000.0) < 1e-6 and abs(y0[0] - 3210000.0) < 1e-6


def test_column_math_equals_numpy(spark):
    """The Catalyst expressions and the numpy twin are the SAME formula."""
    pts = [(i, -20.0 + i * 0.7, 32.0 + i * 0.4) for i in range(100)]
    df = spark.createDataFrame(pts, "i long, lon double, lat double")
    fx, fy = RP.laea_forward(F.col("lon"), F.col("lat"))
    got = df.select("i", fx.alias("x"), fy.alias("y")).collect()
    lons = np.array([p[1] for p in pts])
    lats = np.array([p[2] for p in pts])
    ex, ey = RP.laea_forward_np(lons, lats)
    for r in got:
        assert abs(r.x - ex[r.i]) < 1e-6 and abs(r.y - ey[r.i]) < 1e-6
    ix, iy = RP.laea_inverse(F.col("x"), F.col("y"))
    back = (
        df.select("i", fx.alias("x"), fy.alias("y"))
        .select("i", ix.alias("lon"), iy.alias("lat"))
        .collect()
    )
    for r in back:
        assert abs(r.lon - lons[r.i]) < 1e-6 and abs(r.lat - lats[r.i]) < 1e-6


def test_reproject_points_and_metadata(spark):
    df = spark.createDataFrame(
        [(1, 10.0, 52.0), (2, 5.0, 50.0)], "doc_id long, lon double, lat double"
    )
    df = CRS.with_crs(df.withColumn("x", F.col("lon")), 4326, geometry_col="x")
    out = RP.reproject(df, to=3035, x_col="lon", y_col="lat")
    assert CRS.crs_of(out, "x") == "EPSG:3035"
    got = {r.doc_id: (r.lon, r.lat) for r in out.collect()}
    assert abs(got[1][0] - 4321000.0) < 1e-6  # origin
    assert abs(got[2][0] - 3962799.45) < 0.02
    # unknown source CRS without a declaration raises
    bare = spark.createDataFrame([(1.0, 2.0)], "lon double, lat double")
    with pytest.raises(ValueError, match="source CRS unknown"):
        RP.reproject(bare, to=3035)
    # unsupported pair raises with the supported list
    with pytest.raises(ValueError, match="no transform"):
        RP.reproject(bare, to=32632, from_crs=4326, x_col="lon", y_col="lat")


def test_reproject_wkb_geometry_matches_column_math(spark):
    """WKB vertices go through the numpy kernel; a point geometry must land
    exactly where the column math puts its coordinates."""
    ring = [(9.0, 51.0), (11.0, 51.0), (11.0, 53.0), (9.0, 53.0), (9.0, 51.0)]
    rows = [
        (1, WKB.encode_point(10.0, 52.0), 10.0, 52.0),
        (2, WKB.encode_polygon([ring]), 9.0, 51.0),
        (3, None, 5.0, 50.0),
    ]
    df = CRS.with_crs(
        spark.createDataFrame(rows, "gid long, geometry binary, lon double, lat double"),
        4326,
    )
    out = RP.reproject(df, to=3035)
    assert CRS.crs_of(out) == "EPSG:3035"
    got = {r.gid: r for r in out.collect()}
    kind, pt = WKB.decode(bytes(got[1].geometry))
    assert kind == "point"
    assert abs(pt[0] - got[1].lon) < 1e-6 and abs(pt[1] - got[1].lat) < 1e-6
    # polygon: type tag preserved, every vertex equals the numpy transform
    raw = bytes(got[2].geometry)
    assert raw[1] == WKB.WKB_POLYGON
    _, polys = WKB.decode(raw)
    verts = polys[0][0]
    ex, ey = RP.laea_forward_np(
        np.array([p[0] for p in ring]), np.array([p[1] for p in ring])
    )
    assert np.allclose(verts[:, 0], ex, atol=1e-6)
    assert np.allclose(verts[:, 1], ey, atol=1e-6)
    assert got[3].geometry is None  # NULL passes through


def test_reprojected_overlay_parity(spark):
    """The reference's own mismatch scenario (EPSG:4326 pages x EPSG:3035
    NUTS polygons): the polygon layer ships in 3035, ``reproject`` brings
    it to 4326, and the PIP join then matches the same-CRS fixture where
    the polygon was authored in 4326 directly."""
    from pygridmap_spark.operators import spatialjoin as SJ

    ring = [(8.0, 50.0), (12.0, 50.0), (12.0, 54.0), (8.0, 54.0), (8.0, 50.0)]
    # the "NUTS layer as shipped": the same ring in LAEA meters
    rx, ry = RP.laea_forward_np(
        np.array([p[0] for p in ring]), np.array([p[1] for p in ring])
    )
    poly_3035 = CRS.with_crs(
        spark.createDataFrame(
            [(1, WKB.encode_polygon([np.column_stack([rx, ry])]))],
            "poly_id long, geometry binary",
        ),
        3035,
    )
    pts_rows = [(i, 6.0 + (i % 9) * 0.83, 48.0 + (i % 8) * 0.91) for i in range(72)]
    pts = spark.createDataFrame(pts_rows, "pid long, lon double, lat double")
    # the guard fires on the mixed pair, and names the fix
    with pytest.raises(ValueError, match="functions.reproject"):
        CRS.ensure_same_crs("EPSG:4326", "EPSG:3035")
    poly_4326 = RP.reproject(poly_3035, to=4326)
    assert CRS.crs_of(poly_4326) == "EPSG:4326"
    got = sorted(
        r.pid for r in SJ.polygon_pip_join(pts, poly_4326).collect()
    )
    # same-CRS fixture: the polygon authored in 4326 directly
    fixture = spark.createDataFrame(
        [(1, WKB.encode_polygon([ring]))], "poly_id long, geometry binary"
    )
    want = sorted(r.pid for r in SJ.polygon_pip_join(pts, fixture).collect())
    assert got == want and len(want) > 0


def test_webmercator_known_values():
    """Published anchor values for EPSG:3857: the origin, the antimeridian
    (x = pi*a = 20037508.342789244), and the projection square's corner
    (lat 85.0511287798066 -> y == x_max)."""
    x, y = RP.webmercator_forward_np(np.array([0.0]), np.array([0.0]))
    assert x[0] == 0.0 and abs(y[0]) < 1e-9
    x, y = RP.webmercator_forward_np(np.array([180.0]), np.array([0.0]))
    assert abs(x[0] - 20037508.342789244) < 1e-6
    x, y = RP.webmercator_forward_np(
        np.array([0.0]), np.array([RP.WEBMERCATOR_MAX_LAT])
    )
    assert abs(y[0] - 20037508.342789244) < 1e-6
    # spot value (independently computed): 10E 52N
    x, y = RP.webmercator_forward_np(np.array([10.0]), np.array([52.0]))
    assert abs(x[0] - 1113194.9079327357) < 1e-6
    assert abs(y[0] - 6800125.454397307) < 1e-4


def test_webmercator_roundtrip_property_grid():
    """|inverse(forward(p)) - p| < 1e-9 deg across the full domain of use
    (the spherical inverse is exact up to float rounding)."""
    lon = np.linspace(-179.9, 179.9, 101)
    lat = np.linspace(-RP.WEBMERCATOR_MAX_LAT, RP.WEBMERCATOR_MAX_LAT, 87)
    LON, LAT = np.meshgrid(lon, lat)
    x, y = RP.webmercator_forward_np(LON.ravel(), LAT.ravel())
    lon2, lat2 = RP.webmercator_inverse_np(x, y)
    assert np.max(np.abs(lon2 - LON.ravel())) < 1e-9
    assert np.max(np.abs(lat2 - LAT.ravel())) < 1e-9


def test_webmercator_column_math_equals_numpy(spark):
    pts = [(i, -170.0 + i * 3.3, -80.0 + i * 1.6) for i in range(100)]
    df = spark.createDataFrame(pts, "i long, lon double, lat double")
    fx, fy = RP.webmercator_forward(F.col("lon"), F.col("lat"))
    got = df.select("i", fx.alias("x"), fy.alias("y")).collect()
    lons = np.array([p[1] for p in pts])
    lats = np.array([p[2] for p in pts])
    ex, ey = RP.webmercator_forward_np(lons, lats)
    for r in got:
        assert abs(r.x - ex[r.i]) < 1e-6 and abs(r.y - ey[r.i]) < 1e-6
    ix, iy = RP.webmercator_inverse(F.col("x"), F.col("y"))
    back = (
        df.select("i", fx.alias("x"), fy.alias("y"))
        .select("i", ix.alias("lon"), iy.alias("lat"))
        .collect()
    )
    for r in back:
        assert abs(r.lon - lons[r.i]) < 1e-9 and abs(r.lat - lats[r.i]) < 1e-9


def test_projected_to_projected_composition(spark):
    """EPSG:3035 -> EPSG:3857 (and back) chains through the 4326 hub as one
    fused transform; must equal the two-step route exactly."""
    lon = np.linspace(-20.0, 40.0, 31)
    lat = np.linspace(32.0, 70.0, 31)
    lx, ly = RP.laea_forward_np(lon, lat)
    # fused
    mx, my = RP._TRANSFORMS[("EPSG:3035", "EPSG:3857")][1](lx, ly)
    # two-step
    hl, hp = RP.laea_inverse_np(lx, ly)
    ex, ey = RP.webmercator_forward_np(hl, hp)
    assert np.array_equal(mx, ex) and np.array_equal(my, ey)
    # and back to LAEA within projection round-trip tolerance (~1e-6 deg
    # of authalic series -> sub-meter in projected space)
    bx, by = RP._TRANSFORMS[("EPSG:3857", "EPSG:3035")][1](mx, my)
    assert np.max(np.abs(bx - lx)) < 0.5 and np.max(np.abs(by - ly)) < 0.5
    # DataFrame route end-to-end with CRS metadata
    df = CRS.with_crs(
        spark.createDataFrame(
            [(i, float(lx[i]), float(ly[i])) for i in range(len(lon))],
            "i long, x double, y double",
        ),
        3035,
    )
    out = RP.reproject(df, to=3857, x_col="x", y_col="y")
    assert CRS.crs_of(out) == "EPSG:3857"
    got = {r.i: (r.x, r.y) for r in out.collect()}
    for i in range(len(lon)):
        assert abs(got[i][0] - mx[i]) < 1e-6 and abs(got[i][1] - my[i]) < 1e-6


def test_reproject_rejects_single_axis(spark):
    df = spark.createDataFrame([(1.0, 2.0)], "lon double, lat double")
    with pytest.raises(ValueError, match="both x_col and y_col"):
        RP.reproject(df, to=3035, from_crs=4326, y_col="lat")
    with pytest.raises(ValueError, match="both x_col and y_col"):
        RP.reproject(df, to=3035, from_crs=4326, x_col="lon")
