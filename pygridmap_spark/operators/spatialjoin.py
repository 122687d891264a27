"""Point-in-polygon spatial joins — the engine's page-assignment operators
(SURVEY §2.4 J1/J2 re-expressed as indexed equi-joins).

Design principle: **the cell grid is the spatial index**. Regions are
expanded to the integer cells their bboxes cover (distributed); points
carry the same cell key; the join is a hash equi-join on
(cell_ix, cell_iy) — never a nested-loop scan. The exact phase is then:

- rects: a residual range predicate (pure Catalyst, codegen) behind a
  broadcast of the rect cover cells,
- WKB polygons: two-phase — cover cells classified ALL_IN / BOUNDARY by
  exact clip area in an Arrow pass over the polygon rows (the reference's
  coarse short-circuit, gridding.py:146-151); only points in BOUNDARY
  cells run the vectorized numpy ray-cast (gridding.py:180-182's J2), via
  one Arrow-batched UDF. The polygon layer never goes through the driver.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pygridmap_spark.core import geometry as G
from pygridmap_spark.core import wkb
from pygridmap_spark.operators.gridding import ALL_IN, ALL_OUT, BOUNDARY, classify_rect


def _point_cell_exprs(lon: str, lat: str, z: int):
    """Clamped point cell indices — delegates to the shared cellindex
    formula so lat=90 / lon=180 map into the top cell instead of an
    out-of-range index that can never match a cover cell."""
    from pygridmap_spark.functions import cellindex

    return cellindex.lonlat_to_cell_xy(F.col(lon), F.col(lat), z)


def _cover_cell_range(bxmin, bymin, bxmax, bymax, z: int):
    """Integer cover-cell ranges of a bbox at zoom z (clamped)."""
    n = 1 << z
    clamp = lambda v: min(max(v, 0), n - 1)  # noqa: E731
    lo_x = clamp(int(math.floor((bxmin + 180.0) / 360.0 * n)))
    hi_x = clamp(int(math.floor((bxmax - 1e-12 + 180.0) / 360.0 * n)))
    lo_y = clamp(int(math.floor((bymin + 90.0) / 180.0 * n)))
    hi_y = clamp(int(math.floor((bymax - 1e-12 + 90.0) / 180.0 * n)))
    return lo_x, hi_x, lo_y, hi_y


def _cell_rect(cix: int, ciy: int, z: int):
    n = 1 << z
    cxmin = -180.0 + cix * 360.0 / n
    cymin = -90.0 + ciy * 180.0 / n
    return cxmin, cymin, cxmin + 360.0 / n, cymin + 180.0 / n


def rect_pip_join(
    points: DataFrame,
    rects: DataFrame,
    z: int = 7,
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Points x axis-aligned rect regions (inner containment join).
    ``rects`` needs poly_id + (rxmin, rymin, rxmax, rymax). Returns points
    joined with poly_id (half-open [min, max) containment). Points in no
    region are dropped — for kept-with-null semantics, left-anti the result
    back against the points table.

    Plan: rects explode to cover cells at zoom z (distributed, tiny),
    broadcast hash equi-join on the cell key, residual range filter.
    """
    n = float(1 << z)
    pts = points.withColumns(
        {
            "__cix__": F.floor((F.col(lon) + 180.0) / 360.0 * n).cast("long"),
            "__ciy__": F.floor((F.col(lat) + 90.0) / 180.0 * n).cast("long"),
        }
    )
    eps = 1e-12
    cover = (
        rects.withColumn(
            "__cix__",
            F.explode(
                F.sequence(
                    F.floor((F.col("rxmin") + 180.0) / 360.0 * n).cast("long"),
                    F.floor((F.col("rxmax") - eps + 180.0) / 360.0 * n).cast("long"),
                )
            ),
        )
        .withColumn(
            "__ciy__",
            F.explode(
                F.sequence(
                    F.floor((F.col("rymin") + 90.0) / 180.0 * n).cast("long"),
                    F.floor((F.col("rymax") - eps + 90.0) / 180.0 * n).cast("long"),
                )
            ),
        )
    )
    joined = pts.join(F.broadcast(cover), ["__cix__", "__ciy__"])
    out = joined.filter(
        (F.col(lon) >= F.col("rxmin"))
        & (F.col(lon) < F.col("rxmax"))
        & (F.col(lat) >= F.col("rymin"))
        & (F.col(lat) < F.col("rymax"))
    )
    return out.drop("__cix__", "__ciy__", "rxmin", "rymin", "rxmax", "rymax")


def polygon_pip_join(
    points: DataFrame,
    polygons: DataFrame,
    z: int = 7,
    lon: str = "lon",
    lat: str = "lat",
    geometry_col: str = "geometry",
    poly_key: str = "poly_id",
) -> DataFrame:
    """Points x WKB polygon layer (two-phase exact PIP), fully
    distributed — the polygon layer is never collected to the driver:

    1. one Arrow pass over polygons emits (cover cell, class) rows — the
       classification clip runs where the polygon row lives; the WKB does
       NOT ride the cover-cell replication,
    2. shuffled equi-join with points on the cell key (AQE skew-splits the
       cover cells of continent-sized polygons),
    3. ALL_IN cells pass through with zero geometry work; BOUNDARY
       candidates join the raw WKB back by polygon id (each geometry ships
       once through that exchange) and run the vectorized ray cast,
       decoding once per polygon per batch.

    Returns the point rows joined with ``poly_key`` (inner: points in no
    polygon are dropped).
    """

    def _cover(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out_rows = []
            for _, row in batch.iterrows():
                mp = wkb.decode_multipolygon(bytes(row[geometry_col]))
                if not mp or not any(len(p) for p in mp):
                    continue  # empty geometry: matches nothing
                lo_x, hi_x, lo_y, hi_y = _cover_cell_range(*G.multipolygon_bbox(mp), z)
                for cix in range(lo_x, hi_x + 1):
                    for ciy in range(lo_y, hi_y + 1):
                        cls = classify_rect(mp, *_cell_rect(cix, ciy, z))
                        if cls != ALL_OUT:
                            out_rows.append((cix, ciy, row[poly_key], cls))
            if out_rows:
                yield pd.DataFrame(
                    out_rows, columns=["__cix__", "__ciy__", poly_key, "__cls__"]
                )

    key_type = dict(polygons.dtypes)[poly_key]
    cover = polygons.select(poly_key, geometry_col).mapInPandas(
        _cover, f"__cix__ long, __ciy__ long, {poly_key} {key_type}, __cls__ int"
    )
    cix, ciy = _point_cell_exprs(lon, lat, z)
    pts = points.withColumns({"__cix__": cix, "__ciy__": ciy})
    cand = pts.join(cover, ["__cix__", "__ciy__"])
    interior = cand.filter(F.col("__cls__") == ALL_IN)
    # WKB fetched by id for BOUNDARY candidates only — each geometry ships
    # once through this exchange instead of once per cover cell above
    boundary = cand.filter(F.col("__cls__") == BOUNDARY).join(
        polygons.select(poly_key, F.col(geometry_col).alias("__wkb__")), poly_key
    )
    schema = interior.schema

    def _exact(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        decode = wkb.decode_cache()
        for batch in batches:
            if not len(batch):
                continue
            px = batch[lon].to_numpy(dtype=np.float64)
            py = batch[lat].to_numpy(dtype=np.float64)
            pids = batch[poly_key].to_numpy()
            keep = np.zeros(len(batch), dtype=bool)
            for pid in np.unique(pids):
                sel = np.nonzero(pids == pid)[0]
                mp = decode(pid, batch["__wkb__"].iloc[sel[0]])
                keep[sel] = G.points_in_multipolygon(px[sel], py[sel], mp)
            yield batch[keep].drop(columns=["__wkb__"])

    exact = boundary.mapInPandas(_exact, schema)
    return interior.unionByName(exact).drop("__cix__", "__ciy__", "__cls__")
