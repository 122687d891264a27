"""M2: GridMaker — cell generation, two-phase mask classification, trim /
interior semantics, qtree parity (SURVEY §2.7, reference gridding.py)."""

import math

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pygridmap_spark.core import bboxes as B
from pygridmap_spark.core import geometry as G
from pygridmap_spark.core import wkb
from pygridmap_spark.operators import gridding as GR
from pygridmap_spark.sources import polygons as PG

BBOX = (0.0, 0.0, 100_000.0, 100_000.0)


def rect_mask(spark, x0, y0, x1, y1):
    pdf = pd.DataFrame({"poly_id": [0], "geometry": [wkb.encode_box(x0, y0, x1, y1)]})
    return spark.createDataFrame(pdf)


def test_grid_maker_no_mask_counts(spark):
    out = GR.grid_maker(spark, bbox=BBOX, cell=(10_000.0, 10_000.0))
    rows = out.collect()
    assert len(rows) == 100
    xs = sorted({r["__x__"] for r in rows})
    assert xs == [i * 10_000.0 for i in range(10)]
    # tile ids: 32x32-cell default tile -> single tile 0
    assert {r["__tile__"] for r in rows} == {0}


def test_grid_maker_rect_mask_flags(spark):
    mask = rect_mask(spark, 23_000.0, 31_000.0, 68_500.0, 79_500.0)
    out = GR.grid_maker(
        spark, mask=mask, cell=(10_000.0, 10_000.0), bbox=BBOX, trim=False
    ).collect()
    assert len(out) == 100
    for r in out:
        x0, y0 = r["__x__"], r["__y__"]
        inter = x0 < 68_500 and x0 + 10_000 > 23_000 and y0 < 79_500 and y0 + 10_000 > 31_000
        within = x0 >= 23_000 and x0 + 10_000 <= 68_500 and y0 >= 31_000 and y0 + 10_000 <= 79_500
        assert r["__intersects__"] == inter, (x0, y0)
        assert r["__within__"] == within, (x0, y0)


def test_grid_maker_trim_and_interior(spark):
    mask = rect_mask(spark, 23_000.0, 31_000.0, 68_500.0, 79_500.0)
    trimmed = GR.grid_maker(spark, mask=mask, cell=(10_000.0, 10_000.0), bbox=BBOX, trim=True)
    n_inter = trimmed.count()
    interior = GR.grid_maker(
        spark, mask=mask, cell=(10_000.0, 10_000.0), bbox=BBOX, trim=True, interior=True
    )
    n_within = interior.count()
    # intersecting band is strictly larger than the fully-within core
    assert n_inter > n_within > 0
    assert interior.filter(~F.col("__within__")).count() == 0


def test_grid_maker_polygon_mask_matches_numpy(spark):
    """Irregular polygon mask: engine flags equal direct numpy clip areas
    with the reference's OR-per-geometry reduction (gridding.py:180-182) —
    never summed across (possibly overlapping) mask rows."""
    polys_df = PG.synthetic_polygons(spark, n=3, bbox=BBOX, seed=5)
    geoms = [wkb.decode_multipolygon(bytes(r["geometry"])) for r in polys_df.collect()]
    out = GR.grid_maker(
        spark, mask=polys_df, cell=(5_000.0, 5_000.0), bbox=BBOX, trim=False
    ).collect()
    cell_area = 5_000.0 * 5_000.0
    for r in out:
        areas = [
            G.multipolygon_clip_area(
                g, r["__x__"], r["__y__"], r["__x__"] + 5_000, r["__y__"] + 5_000
            )
            for g in geoms
        ]
        assert r["__intersects__"] == any(a > 1e-9 * cell_area for a in areas)
        assert r["__within__"] == any(a >= cell_area * (1 - 1e-9) for a in areas)


def test_qtree_classify_parity_with_cellwise(spark):
    """Quadtree refinement emits exactly the cells the flat classification
    does (the reference's qtree vs prll mode equivalence)."""
    polys_df = PG.synthetic_polygons(spark, n=2, bbox=BBOX, seed=9)
    geoms = [wkb.decode_multipolygon(bytes(r["geometry"])) for r in polys_df.collect()]
    cell = (12_500.0, 12_500.0)  # 8x8 grid, power-of-2 friendly
    interior, boundary = GR.qtree_classify(geoms, list(BBOX), cell)
    # expand interior blocks + boundary cells into the cell set they cover
    qtree_cells = set()
    for bx0, by0, bx1, by1 in interior:
        for ix in range(int(round((bx1 - bx0) / cell[1]))):
            for iy in range(int(round((by1 - by0) / cell[0]))):
                qtree_cells.add((bx0 + ix * cell[1], by0 + iy * cell[0]))
    boundary_cells = {(b[0], b[1]) for b in boundary}
    # flat (prll-style) classification of every cell
    flat_inter, flat_within = set(), set()
    cell_area = cell[0] * cell[1]
    for ix in range(8):
        for iy in range(8):
            x0, y0 = ix * cell[1], iy * cell[0]
            areas = [
                G.multipolygon_clip_area(g, x0, y0, x0 + cell[1], y0 + cell[0])
                for g in geoms
            ]
            if any(a > 1e-9 * cell_area for a in areas):
                flat_inter.add((x0, y0))
            if any(a >= cell_area * (1 - 1e-9) for a in areas):
                flat_within.add((x0, y0))
    # every fully-within cell is in an interior block; every other
    # intersecting cell is among boundary candidates
    assert flat_within == qtree_cells
    assert flat_inter - flat_within <= boundary_cells
    # boundary candidates never include fully-within cells
    assert not (boundary_cells & qtree_cells)


def test_grid_maker_emit_wkb(spark):
    out = GR.grid_maker(spark, bbox=(0.0, 0.0, 20_000.0, 20_000.0), cell=(10_000.0, 10_000.0), emit_wkb=True)
    rows = out.collect()
    for r in rows:
        kind, mp = wkb.decode(bytes(r["geometry"]))
        assert kind == "multipolygon"
        assert G.multipolygon_area(mp) == pytest.approx(1e8)


def test_qtree_mode_matches_prll_mode(spark):
    """mode='qtree' produces exactly the prll-mode trimmed grid
    (the reference's mode-equivalence, gridding.py:95-96, 191-255)."""
    polys_df = PG.synthetic_polygons(spark, n=3, bbox=BBOX, seed=5)
    kw = dict(mask=polys_df, cell=(6_250.0, 6_250.0), bbox=BBOX, trim=True)
    prll = GR.grid_maker(spark, mode="prll", **kw)
    qtree = GR.grid_maker(spark, mode="qtree", **kw)
    key = ["cell_x", "cell_y", "__intersects__", "__within__"]
    p = {tuple(r[k] for k in key) for r in prll.collect()}
    q = {tuple(r[k] for k in key) for r in qtree.collect()}
    assert p == q and len(p) > 0
    # interior-only variant too
    p2 = {tuple(r[k] for k in key) for r in GR.grid_maker(spark, mode="prll", interior=True, **kw).collect()}
    q2 = {tuple(r[k] for k in key) for r in GR.grid_maker(spark, mode="qtree", interior=True, **kw).collect()}
    assert p2 == q2


def test_qtree_terminates_on_inexact_cell_edges(spark, monkeypatch):
    """120 cells over 100 km: block edges are inexact float multiples of
    the cell size, and the mask edges are not cell-aligned. The quadtree
    must still shrink every block it splits (bounded classify_rect calls)
    and emit exactly the prll grid."""
    calls = [0]
    classify = GR.classify_rect

    def bounded(*args, **kwargs):
        calls[0] += 1
        assert calls[0] < 100_000, "qtree_classify is not shrinking its blocks"
        return classify(*args, **kwargs)

    monkeypatch.setattr(GR, "classify_rect", bounded)
    mask = rect_mask(spark, 23_000.0, 31_000.0, 68_500.0, 79_500.0)
    c = 100_000.0 / 120
    kw = dict(mask=mask, cell=(c, c), bbox=BBOX, trim=True)
    key = ["cell_x", "cell_y", "__intersects__", "__within__"]
    qtree = {tuple(r[k] for k in key) for r in GR.grid_maker(spark, mode="qtree", **kw).collect()}
    prll = {tuple(r[k] for k in key) for r in GR.grid_maker(spark, mode="prll", **kw).collect()}
    assert qtree == prll and len(qtree) > 0


def test_qtree_requires_trim(spark):
    polys_df = PG.synthetic_polygons(spark, n=2, bbox=BBOX, seed=1)
    with pytest.raises(ValueError):
        GR.grid_maker(spark, mask=polys_df, cell=(10_000.0, 10_000.0), bbox=BBOX, trim=False, mode="qtree")


def test_frame_map_and_row_apply(spark):
    from pygridmap_spark.operators import frames

    df = spark.range(100).select(F.col("id"), (F.col("id") * 2.0).alias("v"))
    out = frames.frame_map(df, lambda pdf: pdf[pdf["v"] > 50], "id long, v double")
    assert out.count() == 74
    ra = frames.row_apply(df, lambda row: row["id"] + row["v"], "s", "double")
    assert ra.agg(F.sum("s")).collect()[0][0] == sum(i + 2.0 * i for i in range(100))
    ga = frames.grouped_apply(
        df.withColumn("g", (F.col("id") % 4).cast("int")),
        ["g"],
        lambda pdf: pdf.nlargest(1, "v"),
        "id long, v double, g int",
    )
    assert ga.count() == 4


def _bruteforce_flags(geoms, bbox, cell):
    """Per-cell oracle: every cell of the grid against every mask geometry
    with the exact clip, OR-reduced per geometry (gridding.py:180-182)."""
    height, width = cell
    x0, y0 = bbox[0], bbox[1]
    nrows, ncols = B.get_grid_shape([height, width], bbox)
    cell_area = height * width
    flags = {}
    for cx in range(ncols):
        for cy in range(nrows):
            x, y = x0 + cx * width, y0 + cy * height
            areas = [G.multipolygon_clip_area(g, x, y, x + width, y + height) for g in geoms]
            flags[(cx, cy)] = (
                any(a > 1e-9 * cell_area for a in areas),
                any(a >= cell_area * (1 - 1e-9) for a in areas),
            )
    return flags


def _flags(df):
    return {
        (r["cell_x"], r["cell_y"]): (r["__intersects__"], r["__within__"])
        for r in df.collect()
    }


def test_tile_classification_matches_bruteforce(spark):
    """400 cells in 4x4-cell tiles, two boxes: the tile classes and the
    per-cell exact phase reproduce the brute-force per-cell flags."""
    boxes = [
        (15_000.0, 15_000.0, 70_000.0, 55_000.0),
        (60_000.0, 60_000.0, 95_000.0, 95_000.0),
    ]
    pdf = pd.DataFrame({"poly_id": [0, 1], "geometry": [wkb.encode_box(*b) for b in boxes]})
    cell = (5_000.0, 5_000.0)
    out = _flags(
        GR.grid_maker(
            spark, mask=spark.createDataFrame(pdf), cell=cell, bbox=BBOX, tile=[4, 4], trim=False
        )
    )
    geoms = [wkb.decode_multipolygon(wkb.encode_box(*b)) for b in boxes]
    assert len(out) == 400
    assert out == _bruteforce_flags(geoms, BBOX, cell)


def test_sliver_overlap_survives_tile_and_block_classification(spark):
    """A mask overlapping cell (0, 0) by 0.5 m^2 (above the 1e-9 per-cell
    tolerance of a 1 km cell) must flag that cell, although the overlap is
    below 1e-9 of the 32 km tile / quadtree block holding it: the coarse
    levels classify at the per-cell tolerance."""
    mask = rect_mask(spark, -500.0, -500.0, 0.5, 1.0)
    kw = dict(mask=mask, cell=(1_000.0, 1_000.0), bbox=(0.0, 0.0, 32_000.0, 32_000.0))
    for mode in ("prll", "qtree"):
        rows = GR.grid_maker(spark, mode=mode, trim=True, **kw).collect()
        assert [(r["cell_x"], r["cell_y"]) for r in rows] == [(0, 0)], mode
    flags = _flags(GR.grid_maker(spark, trim=False, **kw))
    assert flags[(0, 0)] == (True, False)
    assert sum(i for i, _ in flags.values()) == 1


@settings(max_examples=4, deadline=None)
@given(
    seed=st.integers(0, 10_000),
    n=st.integers(1, 3),
    tile=st.integers(2, 4),
    box=st.tuples(
        st.floats(1_000.0, 6_000.0), st.floats(1_000.0, 6_000.0),
        st.floats(9_000.0, 13_000.0), st.floats(9_000.0, 13_000.0),
    ),
)
def test_prll_qtree_bruteforce_agree_on_inexact_grids(spark, seed, n, tile, box):
    """prll == qtree == brute force on a grid whose cell size (100 km /
    120) is an inexact float, under random polygons plus a box large
    enough that the small tiles see all-in, all-out and boundary
    classes."""
    bbox = (0.0, 0.0, 25_000.0, 25_000.0)
    c = 100_000.0 / 120
    polys = PG.synthetic_polygons(spark, n=n, bbox=bbox, seed=seed)
    bx0, by0, w, h = box
    mask = polys.select("geometry").unionByName(
        spark.createDataFrame(pd.DataFrame({"geometry": [wkb.encode_box(bx0, by0, bx0 + w, by0 + h)]}))
    )
    geoms = [wkb.decode_multipolygon(bytes(r["geometry"])) for r in mask.collect()]
    kw = dict(mask=mask, cell=(c, c), bbox=bbox, tile=[tile, tile])
    oracle = _bruteforce_flags(geoms, B.align_bbox([c, c], bbox), (c, c))
    assert any(wi for _, wi in oracle.values()) and not all(i for i, _ in oracle.values())
    assert _flags(GR.grid_maker(spark, trim=False, **kw)) == oracle
    hit = {k: v for k, v in oracle.items() if v[0]}
    assert _flags(GR.grid_maker(spark, trim=True, **kw)) == hit
    assert _flags(GR.grid_maker(spark, trim=True, mode="qtree", **kw)) == hit
