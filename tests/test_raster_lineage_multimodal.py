"""M5/M6: raster<->vector operators, lineage checkpoints, multimodal
plumbing, streaming windowed counts, text functions."""

import os

import pytest
from pyspark.sql import functions as F

from pygridmap_spark.operators import multimodal as MM
from pygridmap_spark.operators import raster as RA
from pygridmap_spark.plans import lineage


# ---------------------------------------------------------------------------
# raster
# ---------------------------------------------------------------------------


def test_synthetic_raster_and_yflip(spark):
    r = RA.synthetic_raster(spark, width=4, height=3)
    rows = {(x["col"], x["row"]): x["band1"] for x in r.collect()}
    assert rows[(0, 0)] == 0.0 and rows[(3, 2)] == 11.0
    xy = RA.with_cell_coords(r, height=3, resolution=10.0).collect()
    for row in xy:
        assert row["x"] == row["col"] * 10.0
        # y-flip: raster row 0 is the TOP row
        assert row["y"] == (3 - 1 - row["row"]) * 10.0


def test_join_bands_full_outer(spark):
    r1 = RA.synthetic_raster(spark, 2, 2, band="band1").filter("col = 0")
    r2 = RA.synthetic_raster(spark, 2, 2, band="band2").filter("row = 0")
    joined = RA.join_bands([r1, r2])
    assert joined.count() == 3  # union of cells with ANY band
    both = joined.filter(F.col("band1").isNotNull() & F.col("band2").isNotNull())
    assert both.count() == 1


def test_filter_nodata(spark):
    r = RA.synthetic_raster(spark, 4, 4, nodata_every=5)
    n_all = r.count()
    n_valid = RA.filter_nodata(r, "band1").count()
    assert n_all == 16 and n_valid == 16 - 4  # ids 0,5,10,15 null
    n2 = RA.filter_nodata(r, "band1", no_data_values=[1.0, 2.0]).count()
    assert n2 == n_valid - 2


def test_resample_preserves_mass(spark):
    r = RA.synthetic_raster(spark, 8, 8)
    r = RA.with_cell_coords(r, height=8, resolution=1.0)
    out = RA.resample_to_grid(r, resolution=1.0, a=4)
    got = out.agg(F.sum("band1")).collect()[0][0]
    assert got == pytest.approx(sum(range(64)))
    assert out.count() == 4


def test_sample_at_points(spark):
    r = RA.synthetic_raster(spark, 4, 4)  # value = col + row*4
    pts = spark.createDataFrame(
        [(0, 0.5, 3.5), (1, 3.5, 0.5), (2, 99.0, 99.0)], "pid long, x double, y double"
    )
    out = {x["pid"]: x["band1"] for x in RA.sample_at_points(pts, r, height=4).collect()}
    # y=3.5 -> top row (row 0); x=0.5 -> col 0 => value 0
    assert out[0] == 0.0
    # y=0.5 -> bottom row (row 3); x=3.5 -> col 3 => value 3 + 3*4 = 15
    assert out[1] == 15.0
    assert out[2] is None  # out of raster -> left-join null


# ---------------------------------------------------------------------------
# lineage / checkpoint
# ---------------------------------------------------------------------------


def test_checkpoint_manifest_and_resume(spark, tmp_path):
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 4).cast("int").alias("part")
    )
    path = str(tmp_path / "stage1")
    out = lineage.checkpoint(df, path, stage="s1", partition_cols=["part"])
    assert out.count() == 100
    man = lineage.read_manifest(path)
    assert man["total_rows"] == 100 and man["n_partitions"] == 4
    assert man["complete"] and man["stage"] == "s1"
    # resume: same stage skips rewrite
    m1 = os.path.getmtime(os.path.join(path, lineage.MANIFEST))
    lineage.checkpoint(df, path, stage="s1", partition_cols=["part"])
    assert os.path.getmtime(os.path.join(path, lineage.MANIFEST)) == m1
    # verification detects tampering
    ver = lineage.verify_lineage(spark, path)
    assert ver["ok"]
    man["partitions"][0]["rows"] += 1
    import json

    with open(os.path.join(path, lineage.MANIFEST), "w") as fh:
        json.dump(man, fh)
    ver2 = lineage.verify_lineage(spark, path)
    assert not ver2["ok"] and len(ver2["mismatches"]) == 1


def test_checkpoint_force_rewrites(spark, tmp_path):
    df = spark.range(10)
    path = str(tmp_path / "stage2")
    lineage.checkpoint(df, path, stage="s2")
    out = lineage.checkpoint(spark.range(20), path, stage="s2", force=True)
    assert out.count() == 20
    assert lineage.read_manifest(path)["total_rows"] == 20


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------


def test_media_metadata_and_fake_decode(spark):
    df = spark.createDataFrame(
        [(0, b"fake-image-bytes-0"), (1, b"fake-image-bytes-1")],
        "media_id long, html binary",
    )
    meta = MM.with_media_metadata(df).collect()
    assert all(r["byte_len"] == 18 for r in meta)
    assert meta[0]["content_hash"] != meta[1]["content_hash"]

    feats = MM.decode_and_featurize(df, feature_dim=8).collect()
    assert len(feats) == 2 and len(feats[0]["features"]) == 8
    # deterministic: same bytes -> same features
    again = MM.decode_and_featurize(df, feature_dim=8).collect()
    assert {r["media_id"]: r["features"] for r in feats} == {
        r["media_id"]: r["features"] for r in again
    }


def test_real_decode_is_stubbed(spark):
    df = spark.createDataFrame([(0, b"x")], "media_id long, html binary")
    with pytest.raises(Exception):
        MM.decode_and_featurize(df, fake=False).collect()


def test_frame_sample_plan(spark):
    df = spark.createDataFrame([(0, b"0123456789abcdef")], "media_id long, html binary")
    rows = MM.frame_sample_plan(df, n_frames=4).collect()
    assert [r["frame_idx"] for r in rows] == [0, 1, 2, 3]
    assert [r["byte_offset"] for r in rows] == [0, 4, 8, 12]


def test_zonal_stats_rect_polygons(spark):
    """Zonal stats vs hand-computed rect sums (center-in semantics,
    nodata excluded)."""
    import pandas as pd

    from pygridmap_spark.core import wkb
    from pygridmap_spark.operators import raster as RA

    # 8x6 raster at resolution 1, origin 0: value = col + row*8
    r = RA.synthetic_raster(spark, width=8, height=6, nodata_every=11)
    polys = spark.createDataFrame(
        pd.DataFrame(
            {
                "poly_id": [0, 1],
                # rect covering cell centers: cols 0..3, rows (flipped y) ...
                "geometry": [
                    wkb.encode_box(0.0, 0.0, 4.0, 3.0),   # x in [0,4), y in [0,3)
                    wkb.encode_box(4.0, 3.0, 8.0, 6.0),   # opposite quadrant
                ],
            }
        )
    )
    out = {r_["poly_id"]: r_ for r_ in RA.zonal_stats(
        r, polys, bands=("band1",), height=6, resolution=1.0
    ).collect()}
    # expected: center (c+0.5, y+0.5) in box; y = 5 - row
    import numpy as np

    vals = {}
    for pid, (x0, y0, x1, y1) in {0: (0, 0, 4, 3), 1: (4, 3, 8, 6)}.items():
        vs = []
        for col in range(8):
            for row in range(6):
                v = col + row * 8
                if v % 11 == 0:
                    continue  # nodata
                cx, cy = col + 0.5, (5 - row) + 0.5
                if x0 < cx < x1 and y0 < cy < y1:
                    vs.append(v)
        vals[pid] = vs
    for pid, vs in vals.items():
        assert out[pid]["band1_count"] == len(vs)
        assert out[pid]["band1_sum"] == sum(vs)
        assert out[pid]["band1_min"] == min(vs) and out[pid]["band1_max"] == max(vs)
        assert abs(out[pid]["band1_mean"] - sum(vs) / len(vs)) < 1e-9


def test_checkpoint_table_iceberg_gate(spark):
    """checkpoint_table: honest capability gate — without the Iceberg
    runtime it raises the setup-guidance error instead of writing a
    half-table; with it, the parquet manifest semantics map onto snapshot
    properties (same resume predicate, documented)."""
    import pytest as _pytest

    assert lineage.iceberg_available(spark) is False  # none ships in-container
    with _pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        lineage.checkpoint_table(spark.range(5), "ck.t1", stage="s1")
