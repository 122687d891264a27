"""GridMaker — regular-grid rasterisation of polygon masks (SURVEY §2.7).

Reference parity: pygridmap.gridding.GridMaker / grid_maker
(gridding.py:132-399). Output columns mirror the reference's grid frame:
``__x__``/``__y__`` lower-left corner (xypos anchors supported),
``__tile__`` linearized tile id (ix + iy*nxtiles, gridding.py:165-167),
``__intersects__``/``__within__`` mask-predicate flags, plus engine-native
integer keys (cell_x, cell_y, cell_id).

Spark-first plan (NOT the reference's process pool):

1. driver computes grid/tile shape constants (core.bboxes); without an
   explicit bbox, the mask extent is one min/max agg over the mask's
   per-polygon meta,
2. cells are generated distributed: ``range(nx) x range(ny)`` (a
   BroadcastNestedLoopJoin of two ranges — no data motion, splittable),
3. **two-phase spatial join** against the mask, both phases on the
   overlay's rect x polygon join (``overlay._clip_pairs``) — the mask is
   never collected:
   - phase A: every tile rect (cropped to the grid) joins the mask on the
     tile grid; its largest per-polygon clip area classifies it all-in /
     all-out / boundary — the coarse short-circuit the reference does
     per-tile (gridding.py:146-151), at the cell-level tolerance so a
     tile class implies the same flag for every cell in it,
   - phase B: only boundary-tile cells join the mask on the cell grid
     (gridding.py:174-188's J2); per-pair clip areas OR-reduce per cell,
     interior/exterior tiles get their flags as literals — zero per-cell
     geometry work,
4. trim/interior filters (gridding.py:169-172, 186-188).

The quadtree mode (gridding.py:191-255) refines on the driver in
:func:`qtree_classify` — same emitted cells, boundary-only exact work
through the same phase B. It is the reference plan prll is checked
against.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pygridmap_spark.core import bboxes as B
from pygridmap_spark.core import crs as CRS
from pygridmap_spark.core import geometry as G
from pygridmap_spark.core import wkb
from pygridmap_spark.operators import overlay as OV

ALL_OUT, BOUNDARY, ALL_IN = 0, 1, 2

# relative flag tolerance of the reference's exact per-cell test
# (gridding.py:180-182): intersects iff clip > FLAG_EPS * cell_area,
# within iff clip >= (1 - FLAG_EPS) * cell_area
FLAG_EPS = 1e-9

# mask row key: xxhash64 of the WKB is stable across the plan's reads of
# the mask, and identical WKBs sharing a key cannot change an OR-reduced
# flag. Two DISTINCT geometries colliding in 64 bits would alias in the
# clip kernel's decode cache (odds ~ rows^2 / 2^65).
_MASK_KEY = "__mask_key__"


def _decode_mask(mask_rows: Sequence[bytes]):
    """WKB mask rows -> list of multipolygons (one per mask row; empty
    geometries skipped). Row identity is preserved because the reference's
    within/intersects flags OR-reduce PER GEOMETRY (gridding.py:180-182) —
    summing clip areas across overlapping mask rows would over-count and
    misclassify partially covered rects as fully-within."""
    geoms = []
    for buf in mask_rows:
        mp = wkb.decode_multipolygon(bytes(buf))
        if mp and any(len(p) for p in mp):
            geoms.append(mp)
    return geoms


def classify_rect(geoms, xmin, ymin, xmax, ymax, eps=1e-9, cell_area=None) -> int:
    """Exact rect-vs-mask classification, reference OR semantics
    (gridding.py:146-151, 180-182): ALL_IN iff any single mask geometry
    fully covers the rect; ALL_OUT iff no geometry touches it; else
    BOUNDARY. ``geoms`` is a list of multipolygons (one per mask row);
    a flat polygon list (ring-list elements) is accepted for backward
    compatibility. Per-geometry bbox prefilter keeps the driver loop
    O(intersecting pairs).

    With ``cell_area`` (a block of grid cells), both tests use the
    per-cell tolerance ``eps * cell_area``: a block is BOUNDARY iff some
    clip exceeds it and ALL_IN iff the uncovered area is within it, so
    ALL_OUT / ALL_IN imply the same flag for every cell in the block.
    Without it the tolerance is relative to the rect itself."""
    rect_area = (xmax - xmin) * (ymax - ymin)
    if cell_area is None:
        in_area, hit_tol = rect_area * (1.0 - 1e-9), eps * max(rect_area, 1.0)
    else:
        in_area, hit_tol = rect_area - eps * cell_area, eps * cell_area
    any_hit = False
    for g in geoms:
        mp = g if (len(g) and isinstance(g[0], list)) else [g]
        try:
            bxmin, bymin, bxmax, bymax = G.multipolygon_bbox(mp)
        except ValueError:
            continue
        if bxmax < xmin or bxmin > xmax or bymax < ymin or bymin > ymax:
            continue
        clipped = G.multipolygon_clip_area(mp, xmin, ymin, xmax, ymax)
        if clipped >= in_area:
            return ALL_IN
        if clipped > hit_tol:
            any_hit = True
    return BOUNDARY if any_hit else ALL_OUT


def qtree_classify(polys, bbox, cellsize, max_level: int | None = None):
    """Quadtree refinement (gridding.py:191-255 semantics): recursively
    split boundary blocks until block <= cell size. Returns
    (interior_blocks, boundary_cells_bbox) — driver-side; used by the qtree
    GridMaker mode and pinned by tests against the prll mode's output.
    Blocks classify at the per-cell tolerance, so a pruned block holds no
    cell the exact test would flag."""
    height, width = cellsize
    interior, boundary = [], []
    stack = [bbox]
    while stack:
        bxmin, bymin, bxmax, bymax = stack.pop()
        cls = classify_rect(polys, bxmin, bymin, bxmax, bymax, cell_area=height * width)
        if cls == ALL_OUT:
            continue
        # whole cells spanned (a partial edge cell counts once past
        # TOL_EPS): splitting on these integers, not on the float ratio,
        # guarantees each child spans fewer cells even when the block edges
        # are inexact multiples of the cell size
        nx = math.ceil((bxmax - bxmin - B.TOL_EPS) / width)
        ny = math.ceil((bymax - bymin - B.TOL_EPS) / height)
        if cls == ALL_IN:
            interior.append([bxmin, bymin, bxmax, bymax])
        elif nx <= 1 and ny <= 1:
            boundary.append([bxmin, bymin, bxmax, bymax])
        else:
            mx = bxmin + math.ceil(nx / 2) * width if nx > 1 else bxmax
            my = bymin + math.ceil(ny / 2) * height if ny > 1 else bymax
            for qx0, qy0, qx1, qy1 in (
                (bxmin, bymin, mx, my),
                (mx, bymin, bxmax, my),
                (bxmin, my, mx, bymax),
                (mx, my, bxmax, bymax),
            ):
                if qx1 > qx0 and qy1 > qy0:
                    stack.append((qx0, qy0, qx1, qy1))
    return interior, boundary


def _buffer_amounts(buffer) -> tuple[float, float]:
    """(by, bx) bbox expansion from the reference's buffer convention
    (base.py:168-190): scalar, (by, bx) pair, True -> TOL_EPS, False/None -> 0."""
    if buffer is None or buffer is False:
        return 0.0, 0.0
    if buffer is True:
        return B.TOL_EPS, B.TOL_EPS
    if isinstance(buffer, (tuple, list)):
        if len(buffer) != 2:
            raise TypeError(f"buffer pair must be (by, bx), got {buffer!r}")
        return float(buffer[0]), float(buffer[1])
    return float(buffer), float(buffer)




def grid_maker(
    spark: SparkSession,
    mask: DataFrame | None = None,
    cell: Sequence[float] = (1000.0, 1000.0),
    bbox: Sequence[float] | None = None,
    tile: Sequence[int] | None = None,
    trim: bool = True,
    interior: bool = False,
    crop: bool = True,
    geometry_col: str = "geometry",
    emit_wkb: bool = False,
    mode: str = "prll",
    crs: str | int | None = None,
    xypos: str = "LLc",
    buffer=None,
) -> DataFrame:
    """Build the regular grid covering ``bbox`` (or the mask extent),
    flagged/trimmed against the mask. ``cell`` is (height, width) like the
    reference; ``tile`` is the processing-tile size in cells (defaults to a
    ~32x32-cell tile, the classification unit).

    ``mode`` mirrors the reference's GridMaker modes (gridding.py:95-96):
    'prll' classifies fixed tiles, then tests the cells of boundary tiles
    — both through the overlay's distributed cell x polygon join, so the
    mask is never collected; 'qtree' (gridding.py:191-255) refines on the
    driver so only O(perimeter) cells ever see exact geometry — identical
    output (pinned by tests). qtree requires trim=True (the reference's
    qtree prunes disjoint blocks, so all-out cells are never
    materialized). A cell intersects the mask iff some mask row covers
    more than ``FLAG_EPS`` of it, and is within iff some row covers all
    but ``FLAG_EPS`` of it.
    """
    if mode not in ("prll", "qtree", "seq"):
        raise ValueError(f"mode must be prll|qtree|seq, got {mode!r}")
    if xypos not in B.XYPOS:
        raise ValueError(f"xypos must be one of {B.XYPOS}, got {xypos!r}")
    # CRS guard: an explicit crs argument and the mask layer's declared CRS
    # must agree (reference base.py:206-221 / gridding.py:282-289); the
    # resolved CRS is attached to the emitted geometry column.
    resolved_crs = CRS.ensure_same_crs(
        crs,
        CRS.crs_of(mask, geometry_col) if mask is not None else None,
        context="grid_maker",
    )
    height, width = float(cell[0]), float(cell[1])
    if mask is not None:
        mask = mask.filter(F.col(geometry_col).isNotNull()).select(
            F.xxhash64(geometry_col).alias(_MASK_KEY), geometry_col
        )
        if bbox is None:
            # per-row bboxes (empty geometries dropped) -> one agg
            ext = OV._poly_meta(mask, _MASK_KEY, geometry_col, "poly_").agg(
                F.min("poly_xmin"), F.min("poly_ymin"), F.max("poly_xmax"), F.max("poly_ymax")
            ).first()
            if ext[0] is None:
                raise ValueError("mask has no non-empty geometry: pass a bbox")
            bbox = list(ext)
    if bbox is None:
        raise ValueError("either mask or bbox is required")
    by, bx = _buffer_amounts(buffer)
    if by or bx:
        bbox = [bbox[0] - bx, bbox[1] - by, bbox[2] + bx, bbox[3] + by]
    bbox = B.align_bbox([height, width], bbox) if crop else list(bbox)
    nrows, ncols = B.get_grid_shape([height, width], bbox)
    tilesize = list(tile) if tile else [32, 32]
    nytiles, nxtiles = B.get_tile_shape([height, width], tilesize, bbox)
    xmin, ymin = bbox[0], bbox[1]
    # cell grid extent: the tiles are cropped to it, the mask clamped to it
    extent = (xmin, ymin, xmin + ncols * width, ymin + nrows * height)

    # cell and tile columns as SQL text: one projection per call instead
    # of a py4j round trip per Column operator
    X0, Y0, W, H = (OV._sql_double(v) for v in (xmin, ymin, width, height))

    def cell_frame(df: DataFrame) -> DataFrame:
        return df.selectExpr(
            "cell_x",
            "cell_y",
            f"{X0} + cell_x * {W} AS __x__",
            f"{Y0} + cell_y * {H} AS __y__",
            f"CAST(cell_x / {tilesize[1]} AS INT) + CAST(cell_y / {tilesize[0]} AS INT) * {nxtiles} AS __tile__",
            f"CAST(cell_x AS BIGINT) + CAST(cell_y AS BIGINT) * {ncols} AS cell_id",
            *[c for c in df.columns if c not in ("cell_x", "cell_y")],
        )

    def finalize(flagged: DataFrame) -> DataFrame:
        out = cell_frame(flagged)
        if mask is not None and trim:
            out = out.filter(F.col("__within__") if interior else F.col("__intersects__"))
        return _finalize(out, height, width, emit_wkb, xypos, resolved_crs)

    def exact_flags(cells: DataFrame) -> DataFrame:
        """phase B: (cell_x, cell_y) -> exact flags through the overlay's
        cell x polygon join on the cell grid, OR-reduced per cell (the
        reference's per-geometry reduction, gridding.py:180-182). A cell
        with no candidate pair gets False."""
        cells = cell_frame(cells.select("cell_x", "cell_y"))
        rects = cells.selectExpr(
            "cell_id", "__x__ AS x", "__y__ AS y", f"__x__ + {W} AS xmax", f"__y__ + {H} AS ymax"
        )
        # the boundary cells descend from a few tile rows whose shuffle AQE
        # coalesces to one or two partitions; spread them over the cores so
        # the Python clip kernel does not run serially (measured 1.4-2.3 s
        # vs 2.5-2.8 s per 125x125 grid on 4 cores). The per-cell reduce
        # below keeps that width too (an explicit partition count is not
        # coalesced), so the output grid is not one partition either.
        n_parts = spark.sparkContext.defaultParallelism
        rects = rects.repartition(n_parts)
        pieces = OV._clip_pairs(
            rects, "cell_id", mask, _MASK_KEY, geometry_col,
            (xmin, ymin, width, height), extent=extent,
        )
        cell_area = width * height
        return (
            cells.selectExpr("cell_id", "cell_x", "cell_y", "0.0D AS piece_area")
            .unionByName(pieces.select("cell_id", "piece_area"), allowMissingColumns=True)
            .repartition(n_parts, "cell_id")
            .groupBy("cell_id")
            .agg(
                F.max("cell_x").alias("cell_x"),
                F.max("cell_y").alias("cell_y"),
                F.max("piece_area").alias("_pmax"),
            )
            .selectExpr(
                "cell_x",
                "cell_y",
                f"_pmax > {OV._sql_double(FLAG_EPS * cell_area)} AS __intersects__",
                f"_pmax >= {OV._sql_double(cell_area * (1.0 - FLAG_EPS))} AS __within__",
            )
        )

    if mode == "qtree" and mask is not None:
        if not trim:
            raise ValueError("qtree mode requires trim=True (all-out cells are pruned)")
        return finalize(_qtree_cells(spark, mask, geometry_col, bbox, height, width, exact_flags))

    # --- phase A: tile classification (coarse short-circuit) ---------------
    nyc, nxc = tilesize
    tiles = spark.range(nxtiles).selectExpr("CAST(id AS INT) AS _tix").crossJoin(
        spark.range(nytiles).selectExpr("CAST(id AS INT) AS _tiy")
    )
    if mask is None:
        tiles = tiles.withColumn("_cls", F.lit(ALL_IN))
    else:
        # tile bboxes as B.get_tile_bbox(crop=True) computes them
        x0, y0 = f"{X0} + (_tix * {nxc}) * {W}", f"{Y0} + (_tiy * {nyc}) * {H}"
        tiles = tiles.selectExpr(
            "_tix",
            "_tiy",
            f"_tix + _tiy * {nxtiles} AS __tile__",
            f"{x0} AS x",
            f"{y0} AS y",
            f"least({x0} + {OV._sql_double(nxc * width)}, {OV._sql_double(extent[2])}) AS xmax",
            f"least({y0} + {OV._sql_double(nyc * height)}, {OV._sql_double(extent[3])}) AS ymax",
        )
        tile_max = (
            OV._clip_pairs(
                tiles, "__tile__", mask, _MASK_KEY, geometry_col,
                (xmin, ymin, nxc * width, nyc * height), extent=extent,
            )
            .groupBy("__tile__")
            .agg(F.max("piece_area").alias("_pmax"))
        )
        # cell-level tolerance: ALL_OUT / ALL_IN then imply the same flag
        # for every cell in the tile
        tol = OV._sql_double(FLAG_EPS * width * height)
        tiles = tiles.join(tile_max, "__tile__", "left").selectExpr(
            "_tix",
            "_tiy",
            f"CASE WHEN coalesce(_pmax, 0.0D) >= (xmax - x) * (ymax - y) - {tol} THEN {ALL_IN}"
            f" WHEN coalesce(_pmax, 0.0D) > {tol} THEN {BOUNDARY} ELSE {ALL_OUT} END AS _cls",
        )
        if trim:
            tiles = tiles.filter(f"_cls > {ALL_OUT}")

    # --- distributed cell generation: each tile explodes to its cells -------
    cells = tiles.selectExpr(
        "_tiy",
        "_cls",
        f"explode(sequence(_tix * {nxc}, least((_tix + 1) * {nxc}, {ncols}) - 1)) AS cell_x",
    ).selectExpr(
        "cell_x",
        f"explode(sequence(_tiy * {nyc}, least((_tiy + 1) * {nyc}, {nrows}) - 1)) AS cell_y",
        "_cls",
    )
    literal = cells.filter(f"_cls != {BOUNDARY}").selectExpr(
        "cell_x", "cell_y", f"_cls = {ALL_IN} AS __intersects__", f"_cls = {ALL_IN} AS __within__"
    )
    if mask is None:
        return finalize(literal)
    # --- phase B: exact per-cell flags, boundary tiles only -----------------
    return finalize(literal.unionByName(exact_flags(cells.filter(f"_cls = {BOUNDARY}"))))


def _qtree_cells(spark: SparkSession, mask: DataFrame, geometry_col: str, bbox, height, width, exact_flags):
    """qtree-mode cells: the driver-side refinement over the collected mask
    (the reference plan prll is checked against). Interior blocks expand
    to flagged cells with zero geometry work; boundary candidate cells run
    the prll mode's exact phase B."""
    polys = _decode_mask([r[0] for r in mask.select(geometry_col).collect()])
    xmin, ymin = bbox[0], bbox[1]
    interior_blocks, boundary_cells = qtree_classify(polys, list(bbox), [height, width])
    block_rows = [
        (
            int(round((b[0] - xmin) / width)),
            int(round((b[1] - ymin) / height)),
            int(round((b[2] - b[0]) / width)),
            int(round((b[3] - b[1]) / height)),
        )
        for b in interior_blocks
    ]
    # interior blocks -> cells (distributed explode; blocks are few)
    inter_cells = (
        spark.createDataFrame(block_rows, "bx int, by int, nx int, ny int")
        .withColumn("dx", F.explode(F.sequence(F.lit(0), F.col("nx") - 1)))
        .withColumn("dy", F.explode(F.sequence(F.lit(0), F.col("ny") - 1)))
        .select(
            (F.col("bx") + F.col("dx")).cast("int").alias("cell_x"),
            (F.col("by") + F.col("dy")).cast("int").alias("cell_y"),
            F.lit(True).alias("__intersects__"),
            F.lit(True).alias("__within__"),
        )
    )
    cand_rows = [
        (int(round((b[0] - xmin) / width)), int(round((b[1] - ymin) / height)))
        for b in boundary_cells
    ]
    cand = spark.createDataFrame(cand_rows, "cell_x int, cell_y int")
    return inter_cells.unionByName(exact_flags(cand))


def sort_grid(df: DataFrame, sort: str = "rc", asc=True) -> DataFrame:
    """O1 output sort (the reference's path at gridding.py:356-362 is broken
    — undefined names; this is the intended working semantics): 'rc' sorts
    by tile then (x, y), 'cr' by tile then (y, x). ``asc`` mirrors the
    reference's per-column direction flags (base.py:176-185): a single bool
    or one bool per sort column (tile, first, second)."""
    if sort == "rc":
        cols = ["__tile__", "__x__", "__y__"]
    elif sort == "cr":
        cols = ["__tile__", "__y__", "__x__"]
    else:
        raise ValueError(f"sort must be 'rc' or 'cr', got {sort!r}")
    flags = [asc] * len(cols) if isinstance(asc, bool) else list(asc)
    if len(flags) != len(cols) or not all(isinstance(a, bool) for a in flags):
        raise TypeError(f"asc must be a bool or {len(cols)} bools, got {asc!r}")
    return df.orderBy(*[F.col(c).asc() if a else F.col(c).desc() for c, a in zip(cols, flags)])


def _finalize(
    df: DataFrame,
    height: float,
    width: float,
    emit_wkb: bool,
    xypos: str = "LLc",
    crs: str | None = None,
) -> DataFrame:
    df = df.withColumns(
        {
            "xmax": F.col("__x__") + F.lit(width),
            "ymax": F.col("__y__") + F.lit(height),
        }
    )
    if emit_wkb:
        # cell geometry is derivable; only materialize WKB when asked
        from pygridmap_spark.util import box_wkb_udf

        df = df.withColumn("geometry", box_wkb_udf()("__x__", "__y__", "xmax", "ymax"))
    # xypos anchors the REPORTED (__x__, __y__) coordinate inside the cell
    # (reference base.py:347-370 get_pos_location); xmax/ymax and geometry
    # stay the true cell bounds
    dx, dy = 0.0, 0.0
    if xypos in ("LRc", "URc"):
        dx = width
    if xypos in ("ULc", "URc"):
        dy = height
    if xypos in ("CC", "centre"):
        dx, dy = width / 2.0, height / 2.0
    if dx or dy:
        df = df.withColumns(
            {"__x__": F.col("__x__") + F.lit(dx), "__y__": F.col("__y__") + F.lit(dy)}
        )
    if crs:
        # declared on the geometry column, or on __x__ when emit_wkb=False
        # (the default). Attached AFTER the xypos shift: replacing __x__
        # with an Add expression drops column metadata, so attaching first
        # would silently disarm the downstream overlay CRS-mismatch guard
        # for any non-LLc anchor.
        df = CRS.with_crs(df, crs)
    return df
