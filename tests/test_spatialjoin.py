"""Spatial-join operators: indexed rect PIP, two-phase polygon PIP
(broadcast + distributed parity vs direct numpy), bbox aggregations,
reference-layout export, floats_to_ints."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from pygridmap_spark.core import bboxes as B
from pygridmap_spark.core import geometry as G
from pygridmap_spark.core import wkb
from pygridmap_spark.functions import geolocate as GEO
from pygridmap_spark.functions import tiling as TF
from pygridmap_spark.operators import spatialjoin as SJ
from pygridmap_spark.sources import pages as P
from pygridmap_spark.sources import polygons as PG
from pygridmap_spark.sources import sinks


@pytest.fixture(scope="module")
def points_df(spark):
    docs = spark.range(800).select(F.col("id").alias("pid"))
    lat, lon = GEO.lat_lon_from_id(F.col("pid"))
    return docs.withColumns({"lat": lat, "lon": lon}).cache()


def test_rect_pip_join_matches_predicate(spark, points_df):
    rects = spark.createDataFrame(
        [(0, -10.0, -10.0, 40.0, 30.0), (1, 100.0, 20.0, 170.0, 65.0)],
        "poly_id long, rxmin double, rymin double, rxmax double, rymax double",
    )
    got = {
        (r["pid"], r["poly_id"])
        for r in SJ.rect_pip_join(points_df, rects, z=6).collect()
    }
    pts = points_df.collect()
    want = set()
    for r in pts:
        for pid, x0, y0, x1, y1 in [(0, -10, -10, 40, 30), (1, 100, 20, 170, 65)]:
            if x0 <= r["lon"] < x1 and y0 <= r["lat"] < y1:
                want.add((r["pid"], pid))
    assert got == want and len(want) > 0


@pytest.fixture(scope="module")
def geo_polygons(spark):
    # irregular polygons in lon/lat space
    return PG.synthetic_polygons(
        spark, n=5, bbox=(-60.0, -40.0, 80.0, 60.0), seed=21
    ).cache()


def _expected_pip(points, polys_rows):
    geoms = {r["poly_id"]: wkb.decode_multipolygon(bytes(r["geometry"])) for r in polys_rows}
    want = set()
    px = np.array([r["lon"] for r in points])
    py = np.array([r["lat"] for r in points])
    for pid, mp in geoms.items():
        inside = G.points_in_multipolygon(px, py, mp)
        for i, r in enumerate(points):
            if inside[i]:
                want.add((r["pid"], pid))
    return want


def test_polygon_pip_join_matches_numpy(spark, points_df, geo_polygons):
    got = {
        (r["pid"], r["poly_id"])
        for r in SJ.polygon_pip_join(points_df, geo_polygons, z=6).collect()
    }
    want = _expected_pip(points_df.collect(), geo_polygons.collect())
    assert got == want and len(want) > 0


def test_bbox_union_intersection_aggs(spark):
    df = spark.createDataFrame(
        [(0.0, 0.0, 10.0, 10.0), (5.0, 5.0, 20.0, 15.0)],
        "x double, y double, xmax double, ymax double",
    )
    u = df.agg(*TF.bbox_union_agg()).collect()[0]
    assert (u["xmin"], u["ymin"], u["xmax"], u["ymax"]) == (0.0, 0.0, 20.0, 15.0)
    i = df.agg(*TF.bbox_intersection_agg()).collect()[0]
    assert (i["xmin"], i["ymin"], i["xmax"], i["ymax"]) == (5.0, 5.0, 10.0, 10.0)


def test_bbox_to_ring_density():
    ring = B.bbox_to_ring([0, 0, 10, 10])
    assert len(ring) == 5 and ring[0] == ring[-1]
    dense = B.bbox_to_ring([0, 0, 10, 10], density=3, buffer=1.0)
    assert len(dense) == 4 * 4 + 1
    assert dense[0] == (-1.0, -1.0)
    area = G.polygon_area([np.array(dense)])
    assert area == pytest.approx(144.0)


def test_export_reference_layout(spark, tmp_path):
    from pygridmap_spark.operators import tiler as TL

    df = spark.createDataFrame(
        [(0.0, 0.0, 1.0), (128_000.0, 0.0, 2.0), (0.0, 128_000.0, 3.0)],
        "x double, y double, pop double",
    )
    out_dir = str(tmp_path / "tiles")
    TL.grid_tiling(df, out_dir, resolution=1000.0, format="csv")
    n = sinks.export_reference_layout(out_dir)
    assert n == 3
    # reference contract: out/<xt>/<yt>.csv  (gridtiler.py:124-144)
    assert os.path.exists(os.path.join(out_dir, "0", "0.csv"))
    assert os.path.exists(os.path.join(out_dir, "1", "0.csv"))
    assert os.path.exists(os.path.join(out_dir, "0", "1.csv"))
    assert os.path.exists(os.path.join(out_dir, "info.json"))


def test_floats_to_ints_formatting(spark):
    """Cosmetic CSV rendering (gridtiler.py:567-576): integral doubles
    lose the '.0', others keep their double rendering."""
    df = spark.createDataFrame(
        [(12.0,), (12.5,), (None,), (float("inf"),)], "v double"
    )
    got = [r[0] for r in df.select(TF.floats_to_ints(F.col("v"))).collect()]
    assert got[0] == "12"
    assert got[1] == "12.5"
    assert got[2] is None
    assert "inf" in got[3].lower()


def test_align_pos_location():
    # anchor at origin, bbox off-grid: sides land on whole cell multiples
    out = B.align_pos_location([10.0, 10.0], [3.0, 4.0, 97.0, 96.0], [0.0, 0.0])
    assert out[0] % 10 == 0 and out[1] % 10 == 0
    assert out[0] <= 3.0 and out[1] <= 4.0
    assert out[2] >= 97.0 and out[3] >= 96.0
    assert (out[2] - 0.0) % 10 == 0 and (out[3] - 0.0) % 10 == 0
    # bbox already anchored stays put (plus maxsize padding on max sides)
    out2 = B.align_pos_location([10.0, 10.0], [0.0, 0.0, 100.0, 100.0], [0.0, 0.0])
    assert out2[0] == 0.0 and out2[1] == 0.0


def test_sort_grid(spark):
    from pygridmap_spark.operators import gridding as GR

    g = GR.grid_maker(spark, bbox=(0.0, 0.0, 30_000.0, 30_000.0), cell=(10_000.0, 10_000.0))
    rows = GR.sort_grid(g, "rc").collect()
    keys = [(r["__tile__"], r["__x__"], r["__y__"]) for r in rows]
    assert keys == sorted(keys)
    rows_cr = GR.sort_grid(g, "cr").collect()
    keys_cr = [(r["__tile__"], r["__y__"], r["__x__"]) for r in rows_cr]
    assert keys_cr == sorted(keys_cr)


def test_csv_roundtrip_and_to_parquet(spark, tmp_path):
    from pygridmap_spark.operators import tiler as TL

    df = spark.createDataFrame(
        [(0.0, 0.0, 1.0), (200_000.0, 0.0, 2.0)], "x double, y double, pop double"
    )
    out_dir = str(tmp_path / "t")
    TL.grid_tiling(df, out_dir, resolution=1000.0, format="csv")
    sinks.csv_to_parquet(spark, out_dir)
    back = sinks.read_tiles(spark, out_dir)
    assert back.count() == 2
    assert os.path.exists(os.path.join(out_dir, "info.json"))
    # plain csv grid reader
    csv_path = str(tmp_path / "grid.csv")
    df.toPandas().to_csv(csv_path, index=False)
    assert sinks.read_grid_csv(spark, csv_path).count() == 2


def test_resample_generic_two_rasters(spark):
    from pygridmap_spark.operators import raster as RA
    from pygridmap_spark.sources import polygons as PG

    out_grid = PG.grid_layer(spark, (0.0, 0.0, 8.0, 8.0), (2.0, 2.0), val_from_index=False)
    r1 = RA.synthetic_raster(spark, 8, 8, band="band1")
    r2 = RA.synthetic_raster(spark, 4, 4, band="band2")  # coarser raster
    dead = RA.synthetic_raster(spark, 8, 8, band="band3").withColumn(
        "band3", F.lit(None).cast("double")
    )
    out = RA.resample_generic(
        out_grid,
        {
            "band1": (r1, 8, 0.0, 0.0, 1.0),
            "band2": (r2, 4, 0.0, 0.0, 2.0),
            "band3": (dead, 8, 0.0, 0.0, 1.0),
        },
        resolution_out=2.0,
    )
    assert "band3" not in out.columns  # all-null band dropped
    rows = {(r["x"], r["y"]): (r["band1"], r["band2"]) for r in out.collect()}
    # cell (0,0): centre (1,1) -> r1 col 1, row 6 -> 1 + 6*8 = 49
    assert rows[(0.0, 0.0)][0] == 49.0
    # r2: centre (1,1) -> col 0, row 3 -> 0 + 3*4 = 12
    assert rows[(0.0, 0.0)][1] == 12.0


def test_connected_components(spark):
    from pygridmap_spark.operators import dedup as DD

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (3, 4)],
        "doc_a long, doc_b long",
    )
    got = {r["doc_id"]: r["component_id"] for r in DD.connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}
