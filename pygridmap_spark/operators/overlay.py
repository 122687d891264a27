"""GridOverlay + area_interpolate — grid x polygon overlay and weighted
areal interpolation (SURVEY §2.8, reference overlay.py:433-605).

Semantics (parity targets, re-derived):
- piece area  = area(cell ∩ polygon)                    (overlay.py:326-331)
- area_pct    = piece_area / original polygon area       (overlay.py:332-335)
- rule 'sum'  = per cell: sum(attr * area_pct)           (overlay.py:345-354)
- rule 'max'/'min' = attrs of the most/least overlapping polygon
                                                        (overlay.py:340-360)
- rule 'list' / cover = collect polygon ids per cell     (overlay.py:312-323)
- merge-back onto the grid = equi-join on the cell id    (overlay.py:369-374)

Two physical paths, chosen by the shape of the right side:

1. **rect x rect** (`grid_overlay_rects`): when the "polygon" layer is
   itself a regular grid (the reference's own unit-test situation —
   tests/overlay.ipynb cells 26-32 overlay grids with grids), the piece
   area is closed-form rectangle intersection. The candidate join is an
   equi-join on the coarse cell key both sides can compute — pure Catalyst,
   fully codegen, shuffle-on-key; survives any scale. This path is also
   DuckDB-oracle-checkable, which is how the driver verifies the engine.

2. **rect x WKB polygons** (`grid_overlay_polygons`): irregular vector
   layers (NUTS-3-style), fully distributed — the polygon layer is never
   collected to the driver, so it may outgrow it. Candidates come from
   exploding each polygon's bbox into the grid's integer cell-key range
   (the cell grid IS the spatial index — replaces the reference's R-tree,
   overlay.py:257-260), equi-joined with the cells on that key; the exact
   clip runs vectorized-numpy in an Arrow UDF only on candidate pairs.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pygridmap_spark import util as _util

from pygridmap_spark.core import crs as CRS
from pygridmap_spark.core import geometry as G
from pygridmap_spark.core import wkb

RULES = ("sum", "max", "min", "list", None)


def _check_emit_wkb(emit_wkb: bool, rule) -> None:
    if emit_wkb and rule is not None:
        raise ValueError(
            "emit_wkb=True returns the raw piece rows with their clipped "
            "geometry (reference overlay.py:296-297 parity) — rules "
            "aggregate pieces away, so use rule=None"
        )


def crop_grid(
    cells: DataFrame,
    bbox: Sequence[float] | None = None,
    tile: int | None = None,
    cell_range: tuple[int, int, int, int] | None = None,
) -> DataFrame:
    """V1 (overlay.py:187-241): subset the grid to a tile — by explicit
    tile-column value, integer cell-index range, or bbox predicate. All
    three are plain filters, so on a tile-partitioned table they become
    partition pruning; there is no index-reset (__gridx__) dependence —
    cell_id is stable."""
    out = cells
    if tile is not None:
        out = out.filter(F.col("__tile__") == tile)
    if cell_range is not None:
        x0, y0, x1, y1 = cell_range
        out = out.filter(
            (F.col("cell_x") >= x0)
            & (F.col("cell_x") < x1)
            & (F.col("cell_y") >= y0)
            & (F.col("cell_y") < y1)
        )
    if bbox is not None:
        xmin, ymin, xmax, ymax = bbox
        # accept both the overlay convention (x/y) and GridMaker output
        # (__x__/__y__)
        xcol = "x" if "x" in out.columns else "__x__"
        ycol = "y" if "y" in out.columns else "__y__"
        out = out.filter(
            (F.col(xcol) < xmax)
            & (F.col("xmax") > xmin)
            & (F.col(ycol) < ymax)
            & (F.col("ymax") > ymin)
        )
    return out


def _apply_rule(
    pieces: DataFrame,
    grid: DataFrame,
    columns: Sequence[str],
    rule: str | None,
    cover: bool,
    area: bool,
    cell_key: str = "cell_id",
    poly_key: str = "poly_id",
) -> DataFrame:
    """Shared rule aggregation + merge-back (A2-A4 + J7/J8)."""
    if rule is None:
        return pieces  # raw overlay rows: cell_key, poly_key, piece_area, area_pct, attrs
    # drop stale attribute columns from the grid before the merge-back, the
    # reference's V4 pre-drop (overlay.py:377-383) — avoids name collisions
    stale = [c for c in (*columns, "piece_area", "area_pct", "__cover__") if c in grid.columns]
    grid = grid.drop(*stale)
    aggs = [F.count(F.lit(1)).alias("__n_pieces__")]
    if rule == "sum":
        aggs += [
            F.sum(F.col(c) * F.col("area_pct")).alias(c) for c in columns
        ]
    elif rule in ("max", "min"):
        order = (
            F.col("area_pct").desc() if rule == "max" else F.col("area_pct").asc()
        )
        w = Window.partitionBy(cell_key).orderBy(order, F.col(poly_key).asc())
        ranked = pieces.withColumn("__rn__", F.row_number().over(w)).filter(
            F.col("__rn__") == 1
        )
        keep = [cell_key, *columns]
        if area:
            keep += ["piece_area", "area_pct"]
        sel = ranked.select(*keep).withColumn("__n_pieces__", F.lit(1).cast("long"))
        if cover:
            # max/min keep one representative row, but cover lists ALL
            # intersecting polygons — aggregate it separately and merge
            cov = pieces.groupBy(cell_key).agg(
                F.sort_array(F.collect_list(poly_key)).alias("__cover__")
            )
            sel = sel.join(cov, cell_key, "left")
        return grid.join(sel, cell_key, "left")
    elif rule == "list":
        aggs += [F.sort_array(F.collect_list(poly_key)).alias("__cover__")]
    if cover and rule != "list":
        aggs.append(F.sort_array(F.collect_list(poly_key)).alias("__cover__"))
    if area:
        aggs += [
            F.sum("piece_area").alias("piece_area"),
            F.sum("area_pct").alias("area_pct"),
        ]
    agg = pieces.groupBy(cell_key).agg(*aggs)
    return grid.join(agg, cell_key, "left")


def _grid_meta(df: DataFrame, what: str) -> tuple[float, float, float, float]:
    """(x0, y0, max cell width, max cell height) of a rect layer — one tiny
    driver job for plan constants. Raises on an empty layer instead of the
    opaque ``max(None, None)`` TypeError downstream."""
    row = df.agg(
        F.min("x").alias("x0"),
        F.min("y").alias("y0"),
        F.max(F.col("xmax") - F.col("x")).alias("w"),
        F.max(F.col("ymax") - F.col("y")).alias("h"),
    ).collect()[0]
    if row["x0"] is None or row["w"] is None:
        raise ValueError(f"empty {what} layer: cannot derive grid geometry")
    return row["x0"], row["y0"], row["w"], row["h"]


# ---------------------------------------------------------------------------
# path 1: rect x rect (grid x grid) — pure Catalyst
# ---------------------------------------------------------------------------


def grid_overlay_rects(
    cells: DataFrame,
    other: DataFrame,
    columns: Sequence[str],
    rule: str | None = "sum",
    cover: bool = False,
    area: bool = False,
    how: str = "intersection",
    emit_wkb: bool = False,
) -> DataFrame:
    """Overlay two rectangle layers. Both sides need
    (cell_id|poly_id, x, y, xmax, ymax); ``other`` carries the attribute
    ``columns``. ``how='union'`` keeps non-intersecting cells of the left
    side (reference 'union' semantics on the grid side: full outer on the
    grid — non-matching cells get null attrs, matching the reference's
    keep_geom_type'd union restricted to the grid frame).

    Plan: equi-join on the coarse candidate key (each left rect explodes to
    the 1..4 coarse cells of the right grid it can touch — computed from the
    right grid's own geometry), then closed-form rectangle intersection.
    No UDF, no broadcastability requirement on either side.

    ``emit_wkb=True`` (rule=None only) adds a ``geometry`` WKB column with
    the actual intersection rectangle of each piece — the reference's
    overlay output carries the gpd.overlay piece geometries
    (overlay.py:296-297); without this flag there is nothing to *map*.
    """
    _check_how(how, rule)
    _check_emit_wkb(emit_wkb, rule)
    bx0, by0, bw, bh = _grid_meta(other, "other (right) grid")
    eps = 1e-9 * max(bw, bh)

    left = cells.select(
        F.col("cell_id"),
        F.col("x").alias("_ax"),
        F.col("y").alias("_ay"),
        F.col("xmax").alias("_axm"),
        F.col("ymax").alias("_aym"),
    )
    # candidate right-grid index ranges per left rect (half-open upper edge)
    lo_x = F.floor((F.col("_ax") - F.lit(bx0)) / F.lit(bw)).cast("long")
    hi_x = F.floor((F.col("_axm") - F.lit(eps) - F.lit(bx0)) / F.lit(bw)).cast("long")
    lo_y = F.floor((F.col("_ay") - F.lit(by0)) / F.lit(bh)).cast("long")
    hi_y = F.floor((F.col("_aym") - F.lit(eps) - F.lit(by0)) / F.lit(bh)).cast("long")
    cand = left.withColumn("_bix", F.explode(F.sequence(lo_x, hi_x))).withColumn(
        "_biy", F.explode(F.sequence(lo_y, hi_y))
    )

    right = other.select(
        F.col("poly_id") if "poly_id" in other.columns else F.col("cell_id").alias("poly_id"),
        F.floor((F.col("x") - F.lit(bx0)) / F.lit(bw)).cast("long").alias("_bix"),
        F.floor((F.col("y") - F.lit(by0)) / F.lit(bh)).cast("long").alias("_biy"),
        F.col("x").alias("_bx"),
        F.col("y").alias("_by"),
        F.col("xmax").alias("_bxm"),
        F.col("ymax").alias("_bym"),
        ((F.col("xmax") - F.col("x")) * (F.col("ymax") - F.col("y"))).alias("_barea"),
        *columns,
    )

    joined = cand.join(right, ["_bix", "_biy"])
    w = F.least("_axm", "_bxm") - F.greatest("_ax", "_bx")
    h = F.least("_aym", "_bym") - F.greatest("_ay", "_by")
    piece = (F.greatest(w, F.lit(0.0)) * F.greatest(h, F.lit(0.0))).alias("piece_area")
    extra = []
    if emit_wkb:
        # piece corners are closed-form; only the byte encoding needs Python
        # (Arrow-batched), and only when the caller asked for geometry
        extra = [
            _util.box_wkb_udf()(
                F.greatest("_ax", "_bx"),
                F.greatest("_ay", "_by"),
                F.least("_axm", "_bxm"),
                F.least("_aym", "_bym"),
            ).alias("geometry")
        ]
    pieces = (
        joined.withColumn("piece_area", piece)
        .filter(F.col("piece_area") > 0)
        .withColumn(
            "area_pct",
            F.when(F.col("_barea") > 0, F.col("piece_area") / F.col("_barea")),
        )
        .select("cell_id", "poly_id", "piece_area", "area_pct", *columns, *extra)
    )
    if rule is None:
        if how == "union_full":
            polys = other.select(
                (
                    F.col("poly_id")
                    if "poly_id" in other.columns
                    else F.col("cell_id").alias("poly_id")
                ),
                *columns,
                *(
                    [_util.box_wkb_udf()("x", "y", "xmax", "ymax").alias("geometry")]
                    if emit_wkb
                    else []
                ),
            )
            return _union_full_pieces(pieces, cells, polys, columns, emit_wkb=emit_wkb)
        return pieces
    out = _apply_rule(pieces, cells, columns, rule, cover, area)
    # inner semantics drop grid cells with no overlap (union keeps them
    # with null attrs — reference 'union' restricted to the grid frame)
    return _drop_unmatched(out) if how == "intersection" else out.drop("__n_pieces__")


HOWS = ("intersection", "union", "union_full")


def _check_how(how: str, rule) -> None:
    if how not in HOWS:
        raise ValueError(f"how must be one of {HOWS}, got {how!r}")
    if how == "union_full" and rule is not None:
        raise ValueError(
            "how='union_full' returns raw pieces of BOTH layers (unmatched "
            "polygons have no cell to aggregate onto) — use rule=None"
        )


def _union_full_pieces(
    pieces: DataFrame,
    cells: DataFrame,
    polys: DataFrame,
    columns,
    poly_key: str = "poly_id",
    emit_wkb: bool = False,
) -> DataFrame:
    """Full planar-union parity (reference gpd.overlay(how='union'),
    overlay.py:296-297): the intersection pieces PLUS unmatched grid cells
    (null polygon key/attrs) PLUS unmatched polygons (null cell_id).
    ``polys`` must carry (poly_key, *columns) — plus a ``geometry`` WKB
    column when ``emit_wkb`` (unmatched pieces keep their ORIGINAL geometry:
    the cell's rect, the polygon's full shape — gpd.overlay union parity).
    Anti-joins on the piece keys."""
    types = dict(pieces.dtypes)
    cell_geom = (
        [_util.box_wkb_udf()("x", "y", "xmax", "ymax").alias("geometry")] if emit_wkb else []
    )
    un_cells = cells.join(
        pieces.select("cell_id").distinct(), "cell_id", "left_anti"
    ).select(
        "cell_id",
        F.lit(None).cast(types[poly_key]).alias(poly_key),
        F.lit(None).cast("double").alias("piece_area"),
        F.lit(None).cast("double").alias("area_pct"),
        *[F.lit(None).cast(types[c]).alias(c) for c in columns],
        *cell_geom,
    )
    un_polys = polys.join(
        pieces.select(poly_key).distinct(), poly_key, "left_anti"
    ).select(
        F.lit(None).cast(types["cell_id"]).alias("cell_id"),
        F.col(poly_key),
        F.lit(None).cast("double").alias("piece_area"),
        F.lit(None).cast("double").alias("area_pct"),
        *columns,
        *(["geometry"] if emit_wkb else []),
    )
    return pieces.unionByName(un_cells).unionByName(un_polys)


def _drop_unmatched(out: DataFrame) -> DataFrame:
    """Intersection semantics: keep only cells that genuinely overlapped —
    keyed on the piece-count marker, NOT attribute nullness (a cell whose
    only overlapping polygon carries a NULL attribute still overlaps)."""
    return out.filter(F.col("__n_pieces__").isNotNull()).drop("__n_pieces__")


def _sql_double(v: float) -> str:
    """``v`` as an exact Spark SQL DOUBLE literal (a bare ``1.5`` parses
    as DECIMAL)."""
    return f"{float(v)!r}D"


def _clip_pairs(
    rects: DataFrame,
    rect_id: str,
    polygons: DataFrame,
    poly_key: str,
    geometry_col: str,
    grid: tuple[float, float, float, float],
    emit_wkb: bool = False,
    extent: Sequence[float] | None = None,
) -> DataFrame:
    """The rect x WKB-polygon join shared by :func:`grid_overlay_polygons`
    and ``gridding.grid_maker``: every (rect, polygon) pair whose clip
    area is > 0, as ``(rect_id, poly_key, poly_area, piece_area
    [, geometry])``.

    ``rects`` carries ``rect_id, x, y, xmax, ymax``, each rect one cell of
    the index grid ``grid = (x0, y0, w, h)`` (keyed by its centre, so a
    float-inexact corner never lands on the neighbour key). ``extent``
    clamps the polygon bboxes before the cover explosion, so a polygon
    far larger than the rect layer only explodes over keys that exist.

    1. bbox + area per polygon, decoded batch-at-a-time (``_poly_meta``),
    2. cover-cell explosion (JVM) — ids + bbox-derived keys ONLY. The WKB
       must not ride the x cover-cells replication into the key exchange
       (a country polygon with 100k vertices and 10^4 cover cells would
       ship 10^4 copies),
    3. shuffled equi-join with the rects on the key (AQE splits a
       mega-polygon's skewed pair partition), then the WKB joined back by
       poly key AFTER the pair join, so the exchange carries each geometry
       once and the per-pair duplication happens inside the clip stage,
    4. exact Sutherland-Hodgman clip on candidate pairs only (decode cache
       keyed by poly key).
    """
    rid_type = dict(rects.dtypes)[rect_id]
    key_type = dict(polygons.dtypes)[poly_key]
    meta = _poly_meta(polygons, poly_key, geometry_col, "poly_")
    if extent is not None:
        ex0, ey0, ex1, ey1 = (_sql_double(v) for v in extent)
        meta = meta.selectExpr(
            f"`{poly_key}`",
            "poly_area",
            f"greatest(poly_xmin, {ex0}) AS poly_xmin",
            f"greatest(poly_ymin, {ey0}) AS poly_ymin",
            f"least(poly_xmax, {ex1}) AS poly_xmax",
            f"least(poly_ymax, {ey1}) AS poly_ymax",
        ).filter("poly_xmin < poly_xmax AND poly_ymin < poly_ymax")
    cover_df = _explode_cover(
        meta, *grid, "poly_xmin", "poly_ymin", "poly_xmax", "poly_ymax",
        keep=[poly_key, "poly_area"],
    )
    x0, y0, w, h = (_sql_double(v) for v in grid)
    left = rects.selectExpr(
        f"`{rect_id}`",
        f"floor(((x + xmax) * 0.5D - {x0}) / {w}) AS _gix",
        f"floor(((y + ymax) * 0.5D - {y0}) / {h}) AS _giy",
        "x AS _ax",
        "y AS _ay",
        "xmax AS _axm",
        "ymax AS _aym",
    )
    # the pair join only contains keys that survived the meta pass, so
    # empty geometries stay excluded
    pairs = left.join(cover_df, ["_gix", "_giy"]).join(
        polygons.select(poly_key, F.col(geometry_col).alias("__wkb__")), poly_key
    )

    def _clip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        decode = wkb.decode_cache()
        for batch in batches:
            if not len(batch):
                continue
            ax = batch["_ax"].to_numpy()
            ay = batch["_ay"].to_numpy()
            axm = batch["_axm"].to_numpy()
            aym = batch["_aym"].to_numpy()
            pids = batch[poly_key].to_numpy()
            bufs = batch["__wkb__"]
            areas = np.empty(len(batch))
            geoms_out = [None] * len(batch) if emit_wkb else None
            for i in range(len(batch)):
                mp = decode(pids[i], bufs.iloc[i])
                if emit_wkb:
                    mpc = G.multipolygon_clip(mp, ax[i], ay[i], axm[i], aym[i])
                    areas[i] = G.multipolygon_area(mpc)
                    if mpc:
                        geoms_out[i] = wkb.encode_multipolygon(mpc)
                else:
                    areas[i] = G.multipolygon_clip_area(mp, ax[i], ay[i], axm[i], aym[i])
            out = batch[[rect_id, poly_key, "poly_area"]].copy()
            out["piece_area"] = areas
            if emit_wkb:
                out["geometry"] = pd.Series(geoms_out, index=batch.index, dtype=object)
            yield out[out["piece_area"] > 0]

    geom_field = ", geometry binary" if emit_wkb else ""
    return pairs.mapInPandas(
        _clip,
        f"{rect_id} {rid_type}, {poly_key} {key_type}, poly_area double, piece_area double{geom_field}",
    )


# ---------------------------------------------------------------------------
# path 2: rect x WKB polygons — distributed cover join + Arrow UDF exact clip
# ---------------------------------------------------------------------------


def grid_overlay_polygons(
    cells: DataFrame,
    polygons: DataFrame,
    columns: Sequence[str],
    rule: str | None = "sum",
    cover: bool = False,
    area: bool = False,
    how: str = "intersection",
    geometry_col: str = "geometry",
    poly_key: str = "poly_id",
    emit_wkb: bool = False,
) -> DataFrame:
    """Overlay the cell grid with an irregular WKB polygon layer.

    Fully distributed plan (no driver-side geometry, so the polygon layer
    may be larger than the driver): the cells' own grid (``_grid_meta``)
    is the spatial index of :func:`_clip_pairs` — per-polygon bbox/area,
    cover-cell explosion, shuffled equi-join on the cell key, WKB joined
    back once per polygon, exact clip on candidate pairs only. The same
    join computes ``gridding.grid_maker``'s tile classes and per-cell mask
    flags.

    ``emit_wkb=True`` (rule=None only) carries each piece's CLIPPED
    geometry (cell ∩ polygon, holes preserved) as WKB — the rings the clip
    kernel computes anyway, encoded instead of discarded after the area.
    """
    _check_how(how, rule)
    _check_emit_wkb(emit_wkb, rule)
    CRS.check_layers_crs(cells, polygons, "geometry", geometry_col, context="grid_overlay_polygons")
    geom_cols = ["geometry"] if emit_wkb else []
    pieces = _clip_pairs(
        cells, "cell_id", polygons, poly_key, geometry_col,
        _grid_meta(cells, "grid cells"), emit_wkb=emit_wkb,
    )
    # attribute merge-back ONLY when attributes were asked for: with no
    # columns the join adds nothing (every piece key came from the polygon
    # layer), and — decisively for skew — a no-op join on poly_key would
    # sit directly above the WKB join-back on the SAME key, and AQE's
    # OptimizeSkewedJoin refuses to split a skewed partition whose output
    # co-partitioning a parent join reuses: a mega-polygon's hot key would
    # stay one task. Skipping it keeps the WKB join splittable.
    pieces = pieces.withColumn(
        "area_pct",
        F.when(F.col("poly_area") > 0, F.col("piece_area") / F.col("poly_area")),
    )
    if columns:
        attrs = polygons.select(poly_key, *columns)
        pieces = pieces.join(attrs, poly_key)
    pieces = pieces.select(
        "cell_id", poly_key, "piece_area", "area_pct", *columns, *geom_cols
    )
    if rule is None:
        if how == "union_full":
            psel = [poly_key, *columns]
            if emit_wkb:
                psel.append(F.col(geometry_col).alias("geometry"))
            return _union_full_pieces(
                pieces, cells, polygons.select(*psel), columns, poly_key, emit_wkb=emit_wkb
            )
        return pieces
    out = _apply_rule(pieces, cells, columns, rule, cover, area, poly_key=poly_key)
    if how == "intersection":
        return _drop_unmatched(out)
    return out.drop("__n_pieces__")


def _explode_cover(
    df: DataFrame,
    x0: float,
    y0: float,
    w: float,
    h: float,
    xmin: str,
    ymin: str,
    xmax: str,
    ymax: str,
    keep: Sequence[str],
    out_x: str = "_gix",
    out_y: str = "_giy",
) -> DataFrame:
    """bbox -> covered-cell key explosion (ids + keys only; geometry never
    rides the replication). The eps keeps a bbox edge exactly on a cell
    line from claiming the next cell."""
    x0, y0, w, h, eps = (_sql_double(v) for v in (x0, y0, w, h, 1e-12))
    keep = [f"`{c}`" for c in keep]
    step1 = df.selectExpr(
        *keep,
        f"explode(sequence(floor((`{xmin}` - {x0}) / {w}), "
        f"floor((`{xmax}` - {eps} - {x0}) / {w}))) AS `{out_x}`",
        f"`{ymin}` AS __cy0__",
        f"`{ymax}` AS __cy1__",
    )
    return step1.selectExpr(
        *keep,
        f"`{out_x}`",
        f"explode(sequence(floor((__cy0__ - {y0}) / {h}), "
        f"floor((__cy1__ - {eps} - {y0}) / {h}))) AS `{out_y}`",
    )


def _poly_meta(polygons: DataFrame, poly_key: str, geometry_col: str, out_prefix: str) -> DataFrame:
    """(key, area, bbox) per polygon via one Arrow decode pass — the shared
    first stage of every distributed vector-layer plan (empty geometries
    dropped here, excluded everywhere downstream)."""
    key_type = dict(polygons.dtypes)[poly_key]
    schema = (
        f"{poly_key} {key_type}, {out_prefix}area double, "
        f"{out_prefix}xmin double, {out_prefix}ymin double, "
        f"{out_prefix}xmax double, {out_prefix}ymax double"
    )

    def _meta(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            if not len(batch):
                continue
            cols = {
                poly_key: batch[poly_key].to_numpy(),
                f"{out_prefix}area": np.empty(len(batch)),
                f"{out_prefix}xmin": np.empty(len(batch)),
                f"{out_prefix}ymin": np.empty(len(batch)),
                f"{out_prefix}xmax": np.empty(len(batch)),
                f"{out_prefix}ymax": np.empty(len(batch)),
            }
            keep = np.ones(len(batch), dtype=bool)
            for i, buf in enumerate(batch[geometry_col]):
                mp = wkb.decode_multipolygon(bytes(buf))
                if not mp or not any(len(p) for p in mp):
                    keep[i] = False
                    continue
                cols[f"{out_prefix}area"][i] = G.multipolygon_area(mp)
                (
                    cols[f"{out_prefix}xmin"][i],
                    cols[f"{out_prefix}ymin"][i],
                    cols[f"{out_prefix}xmax"][i],
                    cols[f"{out_prefix}ymax"][i],
                ) = G.multipolygon_bbox(mp)
            yield pd.DataFrame(cols)[keep]

    return polygons.select(poly_key, geometry_col).mapInPandas(_meta, schema)


def polygon_overlay_pieces(
    left: DataFrame,
    right: DataFrame,
    columns: Sequence[str] = (),
    left_key: str = "left_id",
    right_key: str = "right_id",
    geometry_col: str = "geometry",
    cell: float | None = None,
    emit_wkb: bool = False,
    how: str = "intersection",
    dissolve: bool = False,
) -> DataFrame:
    """General polygon x polygon overlay — intersection pieces of two
    ARBITRARY WKB polygon layers (reference overlay_polygon,
    overlay.py:287-309; its HOWS are exactly ['intersection', 'union']),
    neither side required to be a grid nor to fit on the driver.
    ``how='union_full'`` appends the gpd.overlay-union unmatched rows:
    left polygons with no overlap (null right key/attrs) and right
    polygons with no overlap (null left key), each carrying its ORIGINAL
    geometry when ``emit_wkb``. ``dissolve=True`` (with emit_wkb) removes
    the triangulation seams from concave-clip piece geometry via exact
    edge cancellation (core.geometry.dissolve_multipolygon — best-effort,
    falls back to fragments on any area mismatch; identical areas and
    membership either way).

    Fully distributed plan (same shape as grid_overlay_polygons):

    1. one Arrow meta pass per side (bbox + area; WKB stays put),
    2. both sides explode their bbox cover cells on a SHARED index grid —
       ids + bbox scalars only ride the replication,
    3. equi-join on the cell key, bbox-overlap prefilter, pair dedup
       (ids-only exchange), then each side's WKB joined back ONCE by id,
    4. exact piece geometry per pair via the boolean kernel
       (core.geometry.intersect_multipolygons): Sutherland-Hodgman against
       convex clips, ear-clipped triangle windows for concave ones. Holes
       allowed on either side, not both per pair (kernel contract).

    Output: (left_key, right_key, piece_area, area_pct=piece/right_area,
    *right columns[, geometry WKB when emit_wkb]). ``cell`` is the spatial
    index pitch; None derives it from the mean right-side bbox span (one
    tiny agg over the meta frame)."""
    if left_key == right_key:
        raise ValueError("left_key and right_key must differ (rename one side)")
    if how not in ("intersection", "union_full"):
        raise ValueError(f"how must be 'intersection' or 'union_full', got {how!r}")
    CRS.check_layers_crs(left, right, geometry_col, geometry_col, context="polygon_overlay_pieces")
    lmeta = _poly_meta(left, left_key, geometry_col, "_l")
    rmeta = _poly_meta(right, right_key, geometry_col, "_r")
    if cell is None:
        row = rmeta.agg(
            F.avg(F.col("_rxmax") - F.col("_rxmin")).alias("w"),
            F.avg(F.col("_rymax") - F.col("_rymin")).alias("h"),
        ).collect()[0]
        if row["w"] is None:
            raise ValueError("empty right layer: cannot derive index cell size")
        cell = max(row["w"], row["h"], 1e-12)
    eps = 1e-12

    def _cover(meta: DataFrame, key: str, p: str) -> DataFrame:
        return meta.withColumn(
            "_gix",
            F.explode(
                F.sequence(
                    F.floor(F.col(f"{p}xmin") / cell).cast("long"),
                    F.floor((F.col(f"{p}xmax") - eps) / cell).cast("long"),
                )
            ),
        ).withColumn(
            "_giy",
            F.explode(
                F.sequence(
                    F.floor(F.col(f"{p}ymin") / cell).cast("long"),
                    F.floor((F.col(f"{p}ymax") - eps) / cell).cast("long"),
                )
            ),
        )

    lc = _cover(lmeta, left_key, "_l")
    rc = _cover(rmeta, right_key, "_r")
    pairs = (
        lc.join(rc, ["_gix", "_giy"])
        # bbox prefilter BEFORE the pair-dedup exchange
        .filter(
            (F.col("_lxmin") < F.col("_rxmax")) & (F.col("_lxmax") > F.col("_rxmin"))
            & (F.col("_lymin") < F.col("_rymax")) & (F.col("_lymax") > F.col("_rymin"))
        )
        # _rarea rides along (functionally dependent on right_key): the
        # meta pass already paid the shoelace, the clip kernel must not
        # re-pay it once per PAIR
        .select(left_key, right_key, "_rarea")
        .dropDuplicates([left_key, right_key])
    )
    # WKB fetched once per side by id — never rides the cover replication
    pairs = pairs.join(
        left.select(left_key, F.col(geometry_col).alias("_lwkb")), left_key
    ).join(
        right.select(right_key, F.col(geometry_col).alias("_rwkb")), right_key
    )

    key_types = dict(left.dtypes) | dict(right.dtypes)
    geom_field = ", geometry binary" if emit_wkb else ""
    out_schema = (
        f"{left_key} {key_types[left_key]}, {right_key} {key_types[right_key]}, "
        f"piece_area double, right_area double{geom_field}"
    )

    def _clip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lcache = wkb.decode_cache()
        rcache = wkb.decode_cache()
        # ear-clipping a concave polygon is O(n^2): memoized per polygon,
        # never re-paid per candidate pair
        wcache: dict = {}

        for batch in batches:
            if not len(batch):
                continue
            lk = batch[left_key].to_numpy()
            rk = batch[right_key].to_numpy()
            areas = np.empty(len(batch))
            geoms_out = [None] * len(batch) if emit_wkb else None
            for i in range(len(batch)):
                a = lcache(lk[i], batch["_lwkb"].iloc[i])
                b = rcache(rk[i], batch["_rwkb"].iloc[i])
                pieces = G.intersect_multipolygons(
                    a, b, windows_cache=wcache, a_key=("L", lk[i]), b_key=("R", rk[i])
                )
                areas[i] = G.multipolygon_area(pieces)
                if emit_wkb and pieces:
                    if dissolve:
                        pieces = G.dissolve_multipolygon(pieces)
                    geoms_out[i] = wkb.encode_multipolygon(pieces)
            out = pd.DataFrame({left_key: lk, right_key: rk})
            out["piece_area"] = areas
            out["right_area"] = batch["_rarea"].to_numpy()
            if emit_wkb:
                out["geometry"] = pd.Series(geoms_out, index=out.index, dtype=object)
            yield out[out["piece_area"] > 0]

    pieces = pairs.mapInPandas(_clip, out_schema)
    attrs = right.select(right_key, *columns)
    geom_cols = ["geometry"] if emit_wkb else []
    out = (
        pieces.join(attrs, right_key)
        .withColumn(
            "area_pct",
            F.when(F.col("right_area") > 0, F.col("piece_area") / F.col("right_area")),
        )
        .select(left_key, right_key, "piece_area", "area_pct", *columns, *geom_cols)
    )
    if how == "union_full":
        types = dict(out.dtypes)
        nulls = [
            F.lit(None).cast("double").alias("piece_area"),
            F.lit(None).cast("double").alias("area_pct"),
        ]
        lgeom = [F.col(geometry_col).alias("geometry")] if emit_wkb else []
        un_left = left.join(out.select(left_key).distinct(), left_key, "left_anti").select(
            F.col(left_key),
            F.lit(None).cast(types[right_key]).alias(right_key),
            *nulls,
            *[F.lit(None).cast(types[c]).alias(c) for c in columns],
            *lgeom,
        )
        un_right = right.join(out.select(right_key).distinct(), right_key, "left_anti").select(
            F.lit(None).cast(types[left_key]).alias(left_key),
            F.col(right_key),
            *nulls,
            *columns,
            *lgeom,
        )
        out = out.unionByName(un_left).unionByName(un_right)
    return out


def area_interpolate(
    spark: SparkSession,
    source_polygons: DataFrame,
    target_cells: DataFrame,
    columns: Sequence[str],
    geometry_col: str = "geometry",
    distributed: bool = False,
) -> DataFrame:
    """Tobler-style weighted areal interpolation (overlay.py:559-605):
    rule='sum', area & cover on, intersection semantics — each target cell
    receives sum(attr * overlap_share_of_source), via the distributed
    :func:`grid_overlay_polygons` plan.

    ``spark`` and ``distributed`` are ignored: there is one plan, which
    needs neither a session handle nor a choice. They stay in the signature
    so existing positional and keyword callers keep working."""
    return grid_overlay_polygons(
        target_cells, source_polygons, columns,
        rule="sum", cover=True, area=True, how="intersection", geometry_col=geometry_col,
    )


def dissolve_pieces(
    pieces: DataFrame,
    group_col: str = "poly_id",
    geometry_col: str = "geometry",
    strict: bool = False,
    presplit_col: str | None = None,
) -> DataFrame:
    """Dissolve overlay piece geometries per group into one seam-free
    multipolygon — the distributed form of the reference's
    ``gpd.dissolve`` over overlay output (overlay.py:296-309 carries the
    union-dissolved piece geometry). Returns one row per group:
    ``(group_col, geometry, n_pieces, area)``.

    Exactness: the engine's own piece outputs (S-H rect clips, triangle
    fragments) share bit-identical interior edges, so the shared-edge
    cancellation in :func:`core.geometry.dissolve_multipolygon` removes
    every seam with zero tolerance; ``strict=True`` raises on any group
    where that guarantee does not hold (instead of keeping the fragments).

    Scale: one shuffle keyed by ``group_col`` (each group's pieces are a
    single source polygon's fragments — bounded by the polygon's cover
    cells, the same bound the overlay itself already relies on); the
    dissolve itself is an Arrow-grouped numpy pass. Groups ride a sorted
    streaming map (``util.grouped_rows_sorted``) rather than
    ``applyInPandas``, so the fixed per-group Arrow fee is paid per BATCH
    — at 100k+ groups that fee, not the kernel, dominates the stage.

    ``presplit_col``: hierarchical two-level dissolve for HOT groups (a
    continent-sized polygon whose cover-cell pieces would otherwise be one
    applyInPandas task). Pass any spatially-coherent sub-key (e.g. a
    coarse block id from the piece's cell coordinates): level 1 dissolves
    each ``(group, block)`` in parallel KEEPING collinear seam vertices —
    so block outlines carry their boundary edges at original piece
    granularity and still cancel bit-exactly — and level 2 strict-merges
    the block outlines per group. Identical final geometry (same edge
    multiset), the hot group's work spread over its blocks."""
    from pygridmap_spark.core import geometry as _G
    from pygridmap_spark.core import wkb as _WKB

    key_type = dict(pieces.dtypes)[group_col]
    schema = f"{group_col} {key_type}, {geometry_col} binary, n_pieces long, area double"

    def _make_dissolve(drop_collinear: bool, count_col: str | None):
        def _dissolve(pdf: pd.DataFrame) -> dict:
            mp: list = []
            n_pieces = 0
            for i, buf in enumerate(pdf[geometry_col]):
                if buf is None:
                    continue  # NULL geometry: contributes nothing
                mp.extend(_WKB.decode_multipolygon(bytes(buf)))
                n_pieces += int(pdf[count_col].iloc[i]) if count_col else 1
            out = _G.dissolve_multipolygon(
                mp, strict=strict, drop_collinear=drop_collinear
            )
            if count_col and drop_collinear:
                # level 2: a single-block group early-returns from the
                # dissolve untraversed, still carrying level 1's kept
                # collinear seam vertices — clean them so presplit output
                # is identical to flat-mode output for EVERY group
                out = _G.remove_collinear_vertices(out)
            return {
                group_col: pdf[group_col].iloc[0],
                geometry_col: _WKB.encode_multipolygon(out),
                "n_pieces": n_pieces,
                "area": _G.multipolygon_area(out),
            }

        return _dissolve

    if presplit_col is None:
        return _util.grouped_rows_sorted(
            pieces.select(group_col, geometry_col),
            [group_col], _make_dissolve(True, None), schema,
        )
    # level 1: per (group, block), collinear vertices KEPT so block
    # outlines stay edge-compatible across blocks
    lvl1 = _util.grouped_rows_sorted(
        pieces.select(group_col, presplit_col, geometry_col),
        [group_col, presplit_col], _make_dissolve(False, None), schema,
    )
    # level 2: strict-merge block outlines per group (original piece
    # counts carried through)
    return _util.grouped_rows_sorted(
        lvl1, [group_col], _make_dissolve(True, "n_pieces"), schema
    )


def union_exact_geoms(
    geoms: DataFrame,
    group_col: str = "poly_id",
    geometry_col: str = "geometry",
) -> DataFrame:
    """Per-group EXACT unary union of arbitrary geometries — overlapping,
    concave, holed; the general-shape reference parity with GEOS
    ``unary_union`` (/root/reference/pygridmap/base.py:504-516). Unlike
    :func:`dissolve_pieces` (which requires partition inputs with
    bit-identical shared edges), this routes through the arrangement
    kernel (``core.geometry.union_exact``: trapezoid decomposition of the
    edge arrangement + strict shared-edge dissolve) — no tolerance, no
    fallback, works on any simple-polygon inputs.

    Returns one row per group: ``(group_col, geometry, n_geoms, n_polys,
    area)``.

    Scale: one shuffle keyed by ``group_col``; the per-group kernel pays
    an O(E^2) crossing scan over that group's edges, so groups must be
    dimension-bounded (an overlay family, a dissolve region) — the same
    per-group contract as :func:`dissolve_pieces`."""
    from pygridmap_spark.core import geometry as _G
    from pygridmap_spark.core import wkb as _WKB

    key_type = dict(geoms.dtypes)[group_col]

    def _union(pdf: pd.DataFrame) -> dict:
        gs: list = []
        for buf in pdf[geometry_col]:
            if buf is None:
                continue
            gs.append(_WKB.decode_multipolygon(bytes(buf)))
        out = _G.union_exact(gs)
        return {
            group_col: pdf[group_col].iloc[0],
            geometry_col: _WKB.encode_multipolygon(out),
            "n_geoms": len(gs),
            "n_polys": len(out),
            "area": _G.multipolygon_area(out),
        }

    return _util.grouped_rows_sorted(
        geoms.select(group_col, geometry_col),
        [group_col], _union,
        f"{group_col} {key_type}, {geometry_col} binary, "
        "n_geoms long, n_polys long, area double",
    )


def union_exact_distributed(
    polygons: DataFrame,
    cell: float,
    geometry_col: str = "geometry",
    poly_key: str = "poly_id",
    x0: float = 0.0,
    y0: float = 0.0,
) -> DataFrame:
    """Whole-LAYER exact unary union at scale — the capability the
    reference's driver-side ``unary_union`` (base.py:504-516 via GEOS)
    cannot provide beyond driver memory. Returns one row per non-empty
    ``cell x cell`` tile: ``(tile_x, tile_y, geometry, n_inputs, area)``
    where ``geometry`` is the EXACT union outline within that tile
    (``core.geometry.union_exact``: arrangement partition + strict
    dissolve, no tolerance).

    Exactness contract: tiles partition the plane, so area and membership
    are exact for the whole layer (``sum(area)`` is the exact union
    area); the outline is seam-free WITHIN a tile — tile boundaries
    remain as internal seams across rows, the same cell-bounded geometry
    form the engine's block covers use.

    Scale plan (and why it beats shuffling raw polygons):
    1. per-polygon bbox via one Arrow pass (``_poly_meta``),
    2. cover-tile explosion on the bbox — ids only,
    3. WKB joined back once per polygon by id (AQE skew-splittable, as in
       the distributed overlay),
    4. MAP-SIDE clip of each polygon to each covered tile — so the tile
       exchange carries only the clipped piece that lands in that tile,
       never a continent polygon replicated to its 10^4 tiles,
    5. one tile-keyed exchange + per-tile ``union_exact`` kernel (group
       size bounded by what genuinely overlaps a tile).

    ``cell`` trades kernel size against tile count: the per-tile
    arrangement scan is O(E^2) in the edges that touch the tile."""
    from pygridmap_spark.core import geometry as _G
    from pygridmap_spark.core import wkb as _WKB

    meta = _poly_meta(polygons, poly_key, geometry_col, "__u_")
    cover = _explode_cover(
        meta, x0, y0, cell, cell,
        "__u_xmin", "__u_ymin", "__u_xmax", "__u_ymax",
        keep=[poly_key], out_x="tile_x", out_y="tile_y",
    )
    pairs = cover.join(
        polygons.select(poly_key, F.col(geometry_col).alias("__wkb__")), poly_key
    )

    def _clip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        decode = wkb.decode_cache()
        for batch in batches:
            if not len(batch):
                continue
            txs = batch["tile_x"].to_numpy()
            tys = batch["tile_y"].to_numpy()
            pids = batch[poly_key].to_numpy()
            bufs = batch["__wkb__"]
            out_rows = {"tile_x": [], "tile_y": [], "piece": []}
            for i in range(len(batch)):
                mp = decode(pids[i], bufs.iloc[i])
                tx, ty = int(txs[i]), int(tys[i])
                piece = _G.multipolygon_clip(
                    mp,
                    x0 + tx * cell, y0 + ty * cell,
                    x0 + (tx + 1) * cell, y0 + (ty + 1) * cell,
                )
                if piece:
                    out_rows["tile_x"].append(tx)
                    out_rows["tile_y"].append(ty)
                    out_rows["piece"].append(_WKB.encode_multipolygon(piece))
            yield pd.DataFrame(out_rows)

    pieces = pairs.mapInPandas(_clip, "tile_x long, tile_y long, piece binary")

    def _union(pdf: pd.DataFrame) -> dict:
        gs = [_WKB.decode_multipolygon(bytes(b)) for b in pdf["piece"]]
        u = _G.union_exact(gs)
        return {
            "tile_x": pdf["tile_x"].iloc[0],
            "tile_y": pdf["tile_y"].iloc[0],
            geometry_col: _WKB.encode_multipolygon(u),
            "n_inputs": len(gs),
            "area": _G.multipolygon_area(u),
        }

    return _util.grouped_rows_sorted(
        pieces, ["tile_x", "tile_y"], _union,
        f"tile_x long, tile_y long, {geometry_col} binary, n_inputs long, area double",
    )
