"""Regression tests for the round-1 adversarial-review findings — each
test pins a specific bug that was found and fixed."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pygridmap_spark.core import geometry as G
from pygridmap_spark.core import wkb
from pygridmap_spark.operators import dedup as DD
from pygridmap_spark.operators import gridding as GR
from pygridmap_spark.operators import overlay as OV
from pygridmap_spark.sources import polygons as PG


def test_overlapping_mask_rows_do_not_overcount(spark):
    """Two overlapping mask rows each covering ~60% of a cell must NOT sum
    to 'fully within' (reference OR-per-geometry, gridding.py:180-182)."""
    pdf = pd.DataFrame(
        {
            "poly_id": [0, 1],
            "geometry": [
                wkb.encode_box(0.0, 0.0, 6_000.0, 10_000.0),     # left 60%
                wkb.encode_box(4_000.0, 0.0, 10_000.0, 10_000.0), # right 60%
            ],
        }
    )
    mask = spark.createDataFrame(pdf)
    out = GR.grid_maker(
        spark, mask=mask, cell=(10_000.0, 10_000.0), bbox=(0.0, 0.0, 10_000.0, 10_000.0), trim=False
    ).collect()
    assert len(out) == 1
    # jointly the rows cover 100% of the cell, but no single row does
    assert out[0]["__intersects__"] is True
    assert out[0]["__within__"] is False


def test_overlay_intersection_keeps_cells_with_null_attrs(spark):
    """A cell overlapping only NULL-valued rows still overlaps: it must
    survive how='intersection' (match keyed on pieces, not attr nullness)."""
    grid = PG.grid_layer(spark, (0.0, 0.0, 20_000.0, 20_000.0), (10_000.0, 10_000.0))
    other = PG.grid_layer(spark, (0.0, 0.0, 20_000.0, 20_000.0), (10_000.0, 10_000.0)).withColumn(
        "val", F.when(F.col("cell_id") == 0, F.lit(None).cast("double")).otherwise(F.col("val"))
    )
    out = OV.grid_overlay_rects(grid, other, ["val"], rule="sum", how="intersection")
    rows = {r["cell_id"]: r["val"] for r in out.collect()}
    assert len(rows) == 4  # all cells overlap, incl. the null-attr one
    assert rows[0] is None
    assert "__n_pieces__" not in out.columns
    # union path also drops the internal marker
    uni = OV.grid_overlay_rects(grid, other, ["val"], rule="sum", how="union")
    assert "__n_pieces__" not in uni.columns


def test_connected_components_long_chain(spark):
    """26-node transitive chain converges (pointer jumping, O(log d))."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(25)], "doc_a long, doc_b long"
    )
    got = {r["doc_id"]: r["component_id"] for r in DD.connected_components(pairs).collect()}
    assert set(got.values()) == {0}
    assert len(got) == 26


def test_connected_components_nonconvergence_raises(spark):
    pairs = spark.createDataFrame([(i, i + 1) for i in range(25)], "doc_a long, doc_b long")
    with pytest.raises(RuntimeError):
        DD.connected_components(pairs, max_iter=1)


def test_minhash_bands_validation(spark):
    df = spark.createDataFrame([(0, "a b c d e")], "doc_id long, text string")
    with pytest.raises(ValueError):
        DD.minhash_lsh_pairs(df, num_hashes=16, bands=32)
    with pytest.raises(ValueError):
        DD.minhash_lsh_pairs(df, num_hashes=64, bands=24)


def test_qtree_disjoint_mask_returns_empty(spark):
    pdf = pd.DataFrame({"poly_id": [0], "geometry": [wkb.encode_box(1e6, 1e6, 2e6, 2e6)]})
    mask = spark.createDataFrame(pdf)
    out = GR.grid_maker(
        spark, mask=mask, cell=(10_000.0, 10_000.0), bbox=(0.0, 0.0, 100_000.0, 100_000.0),
        trim=True, mode="qtree",
    )
    assert out.count() == 0
    assert "cell_id" in out.columns  # schema intact


def test_unclosed_ring_pip_matches_closed():
    closed = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], dtype=float)
    unclosed = closed[:-1]
    px = np.array([5.0, 15.0, 0.5])
    py = np.array([5.0, 5.0, 9.5])
    a = G.points_in_polygon(px, py, [closed])
    b = G.points_in_polygon(px, py, [unclosed])
    assert a.tolist() == b.tolist() == [True, False, True]


def test_empty_multipolygon_rows_are_skipped(spark):
    """MULTIPOLYGON EMPTY rows (valid WKB) must not crash joins/overlays."""
    import struct

    empty_mp = struct.pack("<BII", 1, 6, 0)  # little-endian, type 6, 0 parts
    pdf = pd.DataFrame(
        {
            "poly_id": [0, 1],
            "geometry": [wkb.encode_box(0.0, 0.0, 50_000.0, 50_000.0), empty_mp],
            "pop": [10.0, 20.0],
        }
    )
    polys = spark.createDataFrame(pdf)
    grid = PG.grid_layer(spark, (0.0, 0.0, 100_000.0, 100_000.0), (50_000.0, 50_000.0))
    out = OV.grid_overlay_polygons(grid, polys, ["pop"], rule=None).collect()
    assert {r["poly_id"] for r in out} == {0}
    with pytest.raises(ValueError):
        G.multipolygon_bbox([])


def test_overlay_custom_poly_key_and_rule_max(spark):
    """poly_key forwarding: a non-default key name works through the
    max (window) and list (collect) rule paths."""
    pdf = pd.DataFrame(
        {
            "region_code": [7, 9],
            "geometry": [
                wkb.encode_box(0.0, 0.0, 60_000.0, 100_000.0),
                wkb.encode_box(40_000.0, 0.0, 100_000.0, 100_000.0),
            ],
            "pop": [10.0, 20.0],
        }
    )
    polys = spark.createDataFrame(pdf)
    grid = PG.grid_layer(spark, (0.0, 0.0, 100_000.0, 100_000.0), (50_000.0, 50_000.0))
    for fn in (
        lambda: OV.grid_overlay_polygons(
            grid, polys, ["pop"], rule="max", area=True, poly_key="region_code"
        ),
        lambda: OV.grid_overlay_polygons(
            grid, polys, ["pop"], rule="list", poly_key="region_code"
        ),
    ):
        out = fn().collect()
        assert len(out) > 0


# --- round-2 advice regressions ---------------------------------------------


def test_wkb_ewkb_srid_skipped_and_zm_raise(spark):
    """EWKB SRID variant decodes (4-byte SRID skipped); Z/M variants raise
    instead of silently misreading vertex doubles (ADVICE r1)."""
    import struct

    import pytest

    from pygridmap_spark.core import wkb

    plain = wkb.encode_polygon([[(0, 0), (2, 0), (2, 2), (0, 2), (0, 0)]])
    # rewrite header as EWKB+SRID: type |= 0x20000000, insert srid=3035
    ewkb_srid = (
        plain[:1]
        + struct.pack("<I", 3 | 0x20000000)
        + struct.pack("<I", 3035)
        + plain[5:]
    )
    kind_a, polys_a = wkb.decode(ewkb_srid)
    kind_b, polys_b = wkb.decode(plain)
    assert kind_a == kind_b == "multipolygon"
    assert np.array_equal(polys_a[0][0], polys_b[0][0])
    for flag in (0x80000000, 0x40000000):
        bad = plain[:1] + struct.pack("<I", 3 | flag) + plain[5:]
        with pytest.raises(ValueError, match="Z/M"):
            wkb.decode(bad)
    iso_z = plain[:1] + struct.pack("<I", 1003) + plain[5:]
    with pytest.raises(ValueError, match="Z/M"):
        wkb.decode(iso_z)


def test_overlay_rule_max_with_cover(spark):
    """rule='max' + cover=True returns the representative attrs AND the full
    __cover__ polygon list (ADVICE r1: was silently dropped)."""
    from pyspark.sql import functions as F

    from pygridmap_spark.operators.overlay import grid_overlay_rects

    cells = spark.createDataFrame(
        [(0, 0.0, 0.0, 2.0, 2.0)], "cell_id long, x double, y double, xmax double, ymax double"
    )
    polys = spark.createDataFrame(
        [(10, 0.0, 0.0, 1.0, 2.0, 5.0), (11, 1.0, 0.0, 2.0, 2.0, 7.0)],
        "poly_id long, x double, y double, xmax double, ymax double, v double",
    )
    out = grid_overlay_rects(cells, polys, ["v"], rule="max", cover=True).collect()
    assert len(out) == 1
    assert out[0]["__cover__"] == [10, 11]
    assert out[0]["v"] in (5.0, 7.0)


def test_grid_overlay_rects_empty_other_raises(spark):
    import pytest

    from pygridmap_spark.operators.overlay import grid_overlay_rects

    cells = spark.createDataFrame(
        [(0, 0.0, 0.0, 2.0, 2.0)], "cell_id long, x double, y double, xmax double, ymax double"
    )
    empty = spark.createDataFrame(
        [], "poly_id long, x double, y double, xmax double, ymax double, v double"
    )
    with pytest.raises(ValueError, match="empty"):
        grid_overlay_rects(cells, empty, ["v"], rule="sum")


def test_csv_tiles_render_integral_doubles_without_dot_zero(spark, tmp_path):
    """Reference contract (gridtiler round_floats_to_ints): CSV tile values
    write '12' not '12.0' (ADVICE r1)."""
    import glob

    from pygridmap_spark.sources import sinks

    df = spark.createDataFrame(
        [(0, 0, 12.0, 1.5), (0, 1, 3.0, 2.25)], "xt int, yt int, a double, b double"
    )
    out = str(tmp_path / "tiles")
    sinks.write_tiles(df, out, resolution=1.0, format="csv")
    text = "".join(
        open(f).read() for f in glob.glob(out + "/xt=*/yt=*/*.csv")
    )
    assert "12.0" not in text and "12" in text
    assert "2.25" in text  # non-integral untouched
    back = sinks.read_tiles(spark, out, format="csv")
    assert back.count() == 2


def test_fsio_roundtrip_and_lineage_hadoop_fs(spark, tmp_path):
    """Sidecar I/O goes through the Hadoop FS API — exercise an explicit
    file:// scheme URI end-to-end (write_text/read_text/list/rename)."""
    from pygridmap_spark.core import fsio

    base = "file://" + str(tmp_path / "side")
    fsio.mkdirs(spark, base)
    fsio.write_text(spark, fsio.join(base, "x.json"), '{"a": 1}')
    assert fsio.read_text(spark, fsio.join(base, "x.json")) == '{"a": 1}'
    assert "x.json" in fsio.list_names(spark, base)
    assert fsio.rename(spark, fsio.join(base, "x.json"), fsio.join(base, "y.json"))
    assert fsio.exists(spark, fsio.join(base, "y.json"))
    assert not fsio.exists(spark, fsio.join(base, "x.json"))


# --- round-2 self-review regressions ----------------------------------------


def test_figure_eight_vertex_touch_flagged():
    """Vertex-touching self-intersection (figure-eight) has NET area 0 vs
    even-odd filled area 2 — the validator must flag it, not just proper
    crossings (round-2 review)."""
    import numpy as np

    from pygridmap_spark.core import geometry as G

    fig8 = np.array(
        [(0, 0), (2, 0), (1, 1), (0, 2), (2, 2), (1, 1), (0, 0)], float
    )
    assert G.ring_self_intersects(fig8)
    assert G.validate_polygon([fig8]) != []
    # collinear vertex on a straight edge stays clean (no false positive)
    straight = np.array([(0, 0), (1, 0), (2, 0), (2, 2), (0, 2), (0, 0)], float)
    assert not G.ring_self_intersects(straight)


def test_ann_kernels_tolerate_null_embeddings(spark):
    from pygridmap_spark.operators import similarity as SIM

    rows = [(i, [float(i), 1.0]) for i in range(20)] + [(99, None)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qs = spark.createDataFrame(
        [(0, [1.0, 1.0]), (1, None)], "query_id long, embedding array<float>"
    )
    out = SIM.cosine_topk_bruteforce_np(emb, qs, k=3).collect()
    assert len(out) == 3  # null query + null corpus row both excluded
    assert all(r["vec_id"] != 99 for r in out)
    ivf = SIM.cosine_topk_ivf(emb, qs, k=3, nlist=4, nprobe=4).collect()
    assert len(ivf) == 3 and all(r["vec_id"] != 99 for r in ivf)
    cents = SIM.train_ivf_centroids(emb, nlist=4)
    lists = SIM.with_ivf_list(emb, cents)
    assert lists.filter(F.col("vec_id") == 99).collect()[0]["ivf_list"] == -1


def test_grid_maker_crs_survives_default_emit(spark):
    """crs must land on the output even with emit_wkb=False (the default) —
    otherwise the overlay mismatch guard can never fire downstream. Also
    pinned for every non-LLc xypos: the coordinate shift replaces __x__
    with an Add expression, which drops column metadata if the CRS is
    attached first (round-3 advice fix)."""
    from pygridmap_spark.core import crs as CRS

    g = GR.grid_maker(spark, bbox=(0, 0, 4, 4), cell=(2.0, 2.0), crs=3035)
    assert CRS.crs_of(g) == "EPSG:3035"
    for xypos in ("CC", "URc", "LRc", "ULc"):
        g2 = GR.grid_maker(spark, bbox=(0, 0, 4, 4), cell=(2.0, 2.0), crs=3035, xypos=xypos)
        assert CRS.crs_of(g2) == "EPSG:3035", xypos
    # and with WKB emitted the anchor is the geometry column
    g3 = GR.grid_maker(
        spark, bbox=(0, 0, 4, 4), cell=(2.0, 2.0), crs=3035, xypos="CC", emit_wkb=True
    )
    assert CRS.crs_of(g3) == "EPSG:3035"


def test_zonal_stats_infers_resolution_from_xy(spark):
    """A raster that already carries x/y at a NON-unit resolution must get
    correct pixel-center offsets when resolution is omitted (round-3 advice:
    the old default 1.0 mis-offset centers and flipped boundary membership)."""
    import pandas as pd

    from pygridmap_spark.core import wkb
    from pygridmap_spark.operators import raster as RA

    # 4x4 raster at resolution 0.5, origin 0: x/y precomputed
    rows = [
        (c * 0.5, r * 0.5, float(c + r * 4))
        for c in range(4)
        for r in range(4)
    ]
    rast = spark.createDataFrame(rows, "x double, y double, band1 double")
    polys = spark.createDataFrame(
        pd.DataFrame({"poly_id": [0], "geometry": [wkb.encode_box(0.0, 0.0, 1.0, 1.0)]})
    )
    # centers (c*0.5+0.25, r*0.5+0.25): inside [0,1)^2 iff c<2 and r<2
    expect = sorted(float(c + r * 4) for c in range(2) for r in range(2))
    out = RA.zonal_stats(rast, polys, bands=("band1",)).collect()
    assert len(out) == 1
    assert out[0]["band1_count"] == 4
    assert out[0]["band1_sum"] == sum(expect)
    # with the OLD wrong default (resolution=1.0) centers land at +0.5 and
    # membership differs — pin that passing it explicitly still works
    out2 = RA.zonal_stats(rast, polys, bands=("band1",), resolution=0.5).collect()
    assert out2[0]["band1_sum"] == out[0]["band1_sum"]
    # single-column raster cannot infer: explicit error, not silent 1.0
    one = spark.createDataFrame([(0.0, 0.0, 1.0)], "x double, y double, band1 double")
    import pytest

    with pytest.raises(ValueError, match="cannot infer"):
        RA.zonal_stats(one, polys, bands=("band1",))


def test_morton_index_null_and_nan_coords_yield_null_keys(spark):
    """Same contract the S2/hex/geohash encoders pinned in round 5, applied
    to the original Morton family: NULL coords used to fabricate the max
    cell (greatest/least skip nulls) and NaN the corner cell (NaN passes
    every comparison) — cell_ix/cell_iy/cell_id/quadkey must all be NULL
    so bad rows drop from equi-joins instead of polluting a real cell."""
    from pyspark.sql import functions as F

    from pygridmap_spark.functions import cellindex as CI

    df = spark.createDataFrame(
        [
            (1, None, None),
            (2, 10.0, None),
            (3, None, 45.0),
            (4, float("nan"), float("nan")),
            (5, 10.0, float("nan")),
            (6, 10.0, 45.0),
        ],
        "id long, lon double, lat double",
    )
    out = CI.with_cell_index(df, 8).withColumn(
        "qk", CI.quadkey(F.col("lon"), F.col("lat"), 8)
    )
    rows = {r["id"]: r for r in out.collect()}
    for bad in (1, 2, 3, 4, 5):
        r = rows[bad]
        assert r["cell_ix"] is None and r["cell_iy"] is None, bad
        assert r["cell_id"] is None and r["qk"] is None, bad
    good = rows[6]
    assert good["cell_ix"] is not None and good["cell_id"] is not None
    assert len(good["qk"]) == 8
    # out-of-range FINITE coords still clamp to the edge cell (unchanged)
    edge = CI.with_cell_index(
        spark.createDataFrame([(200.0, 100.0)], "lon double, lat double"), 8
    ).collect()[0]
    assert edge["cell_ix"] == 255 and edge["cell_iy"] == 255
