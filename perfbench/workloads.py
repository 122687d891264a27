"""The benchmark's three workloads.

Each workload generates its inputs from the seed (``generate``, timed as
part of set-up), builds an oracle from a different plan once
(``build_oracle``, untimed), then runs closed-loop iterations with one
driver thread (``iterate``), checking every result against the oracle.
``tile_pyramid`` adds a serving phase: a closed loop of client threads
issuing windowed tile reads.

With the tracer on, layer boundaries are materialised (localCheckpoint) so
that each span covers only its own layer.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import statistics
import threading
import time
from contextlib import contextmanager

import numpy as np

from tracing import children, metric, nodes_named, rows_into, size_metric


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    if not xs:
        return float("nan")
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(np.ceil(q / 100.0 * len(s))) - 1))
    return s[k]


def tree_size(folder: str, suffix: str = ".parquet") -> tuple[int, int]:
    """(data files, bytes) under a folder."""
    files = size = 0
    for root, _, names in os.walk(folder):
        for n in names:
            if n.endswith(suffix):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


# -- pages inputs -------------------------------------------------------------


def write_pages(spark, path: str, first_id: int, n: int, partitions: int) -> None:
    """Pages with ids [first_id, first_id + n) as a parquet table."""
    from pyspark.sql import functions as F

    from pygridmap_spark.sources import pages as P

    df = P.pages(spark, first_id + n, partitions=partitions).filter(
        F.col("warc_ts") >= F.timestamp_seconds(F.lit(P.BASE_EPOCH + first_id))
    )
    df.write.parquet(path)


def page_coords(first_id: int, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Integer geolocation keys of pages [first_id, first_id + n), computed
    in plain Python from the pinned url -> sha256 rule (independent of the
    engine): lat = -60 + klat/1e4, lon = -180 + klon/1e4."""
    klat = np.empty(n, dtype=np.int64)
    klon = np.empty(n, dtype=np.int64)
    for j, i in enumerate(range(first_id, first_id + n)):
        h = hashlib.sha256(f"https://host{i % 1000}.example/{i}".encode()).hexdigest()
        klat[j] = int(h[0:15], 16) % 1_300_000
        klon[j] = int(h[15:30], 16) % 3_600_000
    return klat, klon


class Workload:
    name = ""

    def __init__(self, size: dict, seed: int, nproc: int):
        self.size = size
        self.seed = seed
        self.nproc = nproc
        self.rng = random.Random(f"{self.name}:{seed}")
        self.attempted = 0
        self.failed = 0
        self.checks: set[str] = set()
        self.errors: list[str] = []

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.add(name)
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(f"{name}: {detail}")

    # subclasses: generate(spark, dir), build_oracle(spark),
    # iterate(spark, tracer) -> work items done, extra_metrics(res),
    # layer_metrics(tracer)
    def verify(self, spark) -> None:
        """Untimed result check after an iteration (default: none)."""

    def measure(self, spark, tracer, seconds: float) -> dict:
        """Closed loop of iterations for ``seconds``. In a traced run,
        untraced and traced iterations alternate so the tracing overhead
        is measured in the same session."""
        walls, traced_walls, rates = [], [], []
        tracing = tracer.enabled
        # untimed warm-up (JIT, file cache): iterations until warmup_s has
        # passed. Workloads with long iterations skip it and rely on the
        # median of their measured iterations instead.
        # A traced run always warms up once, so that no cold iteration
        # skews the traced-minus-untraced overhead.
        tracer.enabled = False
        warm_until = time.perf_counter() + self.size["warmup_s"]
        warmed = not tracing
        while time.perf_counter() < warm_until or not warmed:
            self.iterate(spark, tracer)
            self.verify(spark)
            warmed = True
        deadline = time.perf_counter() + seconds
        it = 0
        while it < self.size["min_iters"] or time.perf_counter() < deadline:
            tracer.enabled = tracing and it % 2 == 1
            tracer.iteration = it
            with tracer.span("iteration") as s:
                items = self.iterate(spark, tracer)
            self.verify(spark)
            (traced_walls if tracer.enabled else walls).append(s.dur)
            if not tracer.enabled:
                rates.append(items / s.dur)
            it += 1
        tracer.enabled = tracing
        return {"walls": walls, "traced_walls": traced_walls, "rates": rates}


# -- pages_join ---------------------------------------------------------------


class PagesJoin(Workload):
    """pages -> geolocate -> cell index -> tile assignment -> rect PIP join
    against 64 seeded regions -> per-region aggregation. All JVM."""

    name = "pages_join"
    Z = 7
    LAYER_METRICS = (
        "sources.pages_scan_s", "sources.pages_scan_bytes", "functions.encode_s",
        "functions.encode_call_ms", "operators.rect_pip_join_s",
        "operators.rect_pip_join_candidate_rows", "operators.rect_pip_join_kept_rows",
        "operators.rect_pip_join_useful_ratio", "operators.region_agg_s",
    )

    def generate(self, spark, folder: str) -> None:
        n = self.size["pages"]
        self.first_id = self.rng.randrange(n // 8)
        self.pages_path = os.path.join(folder, "pages")
        write_pages(spark, self.pages_path, self.first_id, n, 2 * self.nproc)
        # the seed places the regions; their sizes are fixed so every seed
        # joins about the same number of pages
        rows = []
        for i in range(64):
            x0 = self.rng.uniform(-180.0, 164.0)
            y0 = self.rng.uniform(-60.0, 60.0)
            rows.append((i, x0, y0, x0 + 16.0, y0 + 10.0))
        self.region_rows = rows
        self.regions_path = os.path.join(folder, "regions")
        spark.createDataFrame(
            rows, "poly_id long, rxmin double, rymin double, rxmax double, rymax double"
        ).coalesce(1).write.parquet(self.regions_path)

    def build_oracle(self, spark) -> None:
        """Per-region page counts by brute force over every (page, region)
        pair, from Python-computed coordinates."""
        klat, klon = page_coords(self.first_id, self.size["pages"])
        lat = -60.0 + klat / 10_000.0
        lon = -180.0 + klon / 10_000.0
        self.expected = {}
        for pid, x0, y0, x1, y1 in self.region_rows:
            c = int(np.count_nonzero((lon >= x0) & (lon < x1) & (lat >= y0) & (lat < y1)))
            if c:
                self.expected[pid] = c

    def iterate(self, spark, tracer) -> float:
        from pyspark.sql import functions as F

        from pygridmap_spark.functions import cellindex as CI
        from pygridmap_spark.functions import geolocate as GEO
        from pygridmap_spark.functions import tiling as TF
        from pygridmap_spark.operators import spatialjoin as SJ

        traced = tracer.enabled
        regions = spark.read.parquet(self.regions_path)
        with tracer.span("sources.pages_scan", sql=traced) as s_scan:
            df = spark.read.parquet(self.pages_path)
            if traced:
                df = df.localCheckpoint(eager=True)
        if traced:
            s_scan.attrs["bytes"] = sum(
                size_metric(n, "size of files read") or 0
                for _, n in nodes_named(s_scan.sql, "Scan parquet")
            )
        with tracer.span("functions.encode") as s_enc:
            t0 = time.perf_counter()
            df = GEO.with_geolocation(df)
            df = CI.with_cell_index(df, self.Z)
            df = TF.with_tile_assignment(df, resolution=0.01, tile_size_cell=128, x="lon", y="lat")
            s_enc.attrs["call_ms"] = (time.perf_counter() - t0) * 1e3
            if traced:
                df = df.localCheckpoint(eager=True)
        with tracer.span("operators.rect_pip_join", sql=traced) as s_join:
            joined = SJ.rect_pip_join(df, regions, z=self.Z)
            if traced:
                joined = joined.localCheckpoint(eager=True)
        with tracer.span("operators.region_agg"):
            rows = (
                joined.groupBy("poly_id")
                .agg(
                    F.count(F.lit(1)).alias("n_pages"),
                    F.sum(F.length("text")).alias("text_bytes"),
                    F.countDistinct("xt", "yt").alias("n_tiles"),
                )
                .collect()
            )
        got = {r["poly_id"]: r["n_pages"] for r in rows}
        self.check("pages_join.region_counts", got == self.expected,
                   f"{len(got)} regions vs {len(self.expected)} expected")
        if traced:
            self._join_sql(s_join)
        return float(self.size["pages"])

    def _join_sql(self, span) -> None:
        for e, n in nodes_named(span.sql, "BroadcastHashJoin"):
            kept = metric(n, "number of output rows")
            # rows streamed into the join: the build (broadcast) side is
            # the region cover, not candidates
            cand = rows_into(e, n, skip=("BroadcastExchange",))
            span.attrs.update(candidate_rows=cand, kept_rows=kept)

    def extra_metrics(self, res: dict) -> dict:
        return {"pages_per_s": (median(res["rates"]), "pages/s")}

    def layer_metrics(self, tracer) -> dict:
        sp = by_name(tracer)
        join = sp["operators.rect_pip_join"]
        cand = median([s.attrs.get("candidate_rows") or 0 for s in join])
        kept = median([s.attrs.get("kept_rows") or 0 for s in join])
        return {
            "sources.pages_scan_s": median([s.dur for s in sp["sources.pages_scan"]]),
            "sources.pages_scan_bytes": median([s.attrs["bytes"] for s in sp["sources.pages_scan"]]),
            "functions.encode_s": median([s.dur for s in sp["functions.encode"]]),
            "functions.encode_call_ms": median([s.attrs["call_ms"] for s in sp["functions.encode"]]),
            "operators.rect_pip_join_s": median([s.dur for s in join]),
            "operators.rect_pip_join_candidate_rows": cand,
            "operators.rect_pip_join_kept_rows": kept,
            "operators.rect_pip_join_useful_ratio": kept / cand if cand else 0.0,
            "operators.region_agg_s": median([s.dur for s in sp["operators.region_agg"]]),
        }


def by_name(tracer) -> dict:
    out: dict = {}
    for s in tracer.spans:
        out.setdefault(s.name, []).append(s)
    return out


# -- tile_pyramid -------------------------------------------------------------

# Cell grid in integer grid units of 1e-4 degree: a 0.1 degree cell is 1000
# units, so every coordinate, aggregate and tile index is an exact integer
# in double arithmetic and the oracle can compare exactly.
RES = 1000.0
TILE = 128
LEVELS = (1, 4, 16)
CLIENTS = 4  # serving-phase client threads (at most nproc)


class TilePyramid(Workload):
    """pages -> 0.1 degree cell grid -> GridViz tile pyramid (levels 1, 4,
    16), then a serving phase of windowed tile reads."""

    name = "tile_pyramid"
    LAYER_METRICS = (
        "functions.encode_s", "functions.encode_call_ms", "operators.cell_grid_s",
        "sources.write_tiles_s", "sources.write_tiles_files", "sources.write_tiles_bytes",
        "operators.grid_tiling_a1_s", "operators.grid_tiling_a4_s", "operators.grid_tiling_a16_s",
        "operators.grid_aggregation_a4_s", "operators.grid_aggregation_a16_s",
        "sources.read_tiles_window_call_ms", "sources.tile_read_exec_ms",
        "sources.tile_read_files_scanned",
    )

    def generate(self, spark, folder: str) -> None:
        n = self.size["pages"]
        self.first_id = self.rng.randrange(n // 8)
        self.pages_path = os.path.join(folder, "pages")
        write_pages(spark, self.pages_path, self.first_id, n, 2 * self.nproc)
        self.out_root = os.path.join(folder, "tiles")
        self.builds = 0

    def build_oracle(self, spark) -> None:
        """In-memory cell index per level from Python-computed page keys."""
        klat, klon = page_coords(self.first_id, self.size["pages"])
        ix, iy = klon // 1000, klat // 1000
        self.index = {}
        for a in LEVELS:
            key = (ix // a) * 100_000 + (iy // a)
            u, cnt = np.unique(key, return_counts=True)
            cx, cy = u // 100_000, u % 100_000
            xt, yt = cx // TILE, cy // TILE
            self.index[a] = {
                "cx": cx, "cy": cy, "n": cnt,
                "bounds": {"xMin": int(xt.min()), "xMax": int(xt.max()),
                           "yMin": int(yt.min()), "yMax": int(yt.max())},
                "extent": (int(cx.max()) + 1, int(cy.max()) + 1),
            }
        # the seeded request stream: (level, window in level cells)
        self.requests = []
        for _ in range(self.size["requests"]):
            a = self.rng.choice(LEVELS)
            ex, ey = self.index[a]["extent"]
            w = self.rng.randint(max(1, ex // 40), max(2, ex // 8))
            h = self.rng.randint(max(1, ey // 30), max(2, ey // 6))
            i0 = self.rng.randrange(0, max(1, ex - w))
            j0 = self.rng.randrange(0, max(1, ey - h))
            self.requests.append((a, i0, j0, i0 + w, j0 + h))

    def iterate(self, spark, tracer) -> float:
        """One pyramid build into a fresh folder; returns cells written."""
        from pyspark.sql import functions as F

        from pygridmap_spark.functions import geolocate as GEO
        from pygridmap_spark.operators import tiler as TL

        traced = tracer.enabled
        out = os.path.join(self.out_root, f"b{self.builds}")
        self.builds += 1
        with tracer.span("functions.encode") as s_enc:
            t0 = time.perf_counter()
            pts = GEO.with_geolocation(spark.read.parquet(self.pages_path))
            s_enc.attrs["call_ms"] = (time.perf_counter() - t0) * 1e3
            if traced:
                pts = pts.localCheckpoint(eager=True)
        kx = F.floor((F.col("lon") + 180.0) * 10_000.0 + 0.5).cast("long")
        ky = F.floor((F.col("lat") + 60.0) * 10_000.0 + 0.5).cast("long")
        pts = pts.select(
            (kx - kx % 1000).cast("double").alias("x"),
            (ky - ky % 1000).cast("double").alias("y"),
            F.lit(1).cast("long").alias("n_pages"),
        )
        with tracer.span("operators.cell_grid"):
            cells = TL.grid_aggregation(pts, resolution=RES, a=1).localCheckpoint(eager=True)
        written = 0
        for a in LEVELS:
            if a == 1:
                level = cells
            else:
                with tracer.span(f"operators.grid_aggregation_a{a}"):
                    level = TL.grid_aggregation(cells, resolution=RES, a=a)
                    if traced:
                        level = level.localCheckpoint(eager=True)
            folder = os.path.join(out, f"a{a}")
            with tracer.span(f"operators.grid_tiling_a{a}"), traced_write_tiles(tracer, a):
                TL.grid_tiling(level, folder, resolution=RES * a, tile_size_cell=TILE)
            written += len(self.index[a]["n"])
        self.last_tree = out
        return float(written)

    def verify(self, spark) -> None:
        """Read every level of the last build back against the oracle,
        then free the disk of older builds."""
        from pyspark.sql import functions as F

        from pygridmap_spark.sources import sinks as S

        out = self.last_tree
        for b in range(self.builds - 2, -1, -1):
            shutil.rmtree(os.path.join(self.out_root, f"b{b}"), ignore_errors=True)
        for a in LEVELS:
            folder = os.path.join(out, f"a{a}")
            r = S.read_tiles(spark, folder).agg(F.count(F.lit(1)), F.sum("n_pages")).collect()[0]
            idx = self.index[a]
            self.check("tile_pyramid.level_sum",
                       r[0] == len(idx["n"]) and r[1] == self.size["pages"],
                       f"a={a}: {r[0]} cells / {r[1]} pages")
            info = S.read_info(folder, spark)
            self.check("tile_pyramid.info_bounds", info["tilingBounds"] == idx["bounds"],
                       f"a={a}: {info['tilingBounds']} vs {idx['bounds']}")

    def _read(self, spark, req) -> tuple[float, float, bool]:
        """One windowed read -> (driver call s, action s, matches oracle)."""
        from pyspark.sql import functions as F

        from pygridmap_spark.sources import sinks as S

        a, i0, j0, i1, j1 = req
        r = RES * a
        t0 = time.perf_counter()
        df = S.read_tiles_window(spark, os.path.join(self.last_tree, f"a{a}"),
                                 (i0 * r, j0 * r, i1 * r, j1 * r))
        t1 = time.perf_counter()
        gx = F.col("xt") * TILE + F.col("x")
        gy = F.col("yt") * TILE + F.col("y")
        row = (
            df.filter((gx >= i0) & (gx < i1) & (gy >= j0) & (gy < j1))
            .agg(F.count(F.lit(1)), F.sum("n_pages"))
            .collect()[0]
        )
        t2 = time.perf_counter()
        idx = self.index[a]
        m = (idx["cx"] >= i0) & (idx["cx"] < i1) & (idx["cy"] >= j0) & (idx["cy"] < j1)
        exp_n, exp_p = int(m.sum()), int(idx["n"][m].sum())
        ok = row[0] == exp_n and (row[1] or 0) == exp_p
        return t1 - t0, t2 - t1, ok

    def measure(self, spark, tracer, seconds: float) -> dict:
        res = super().measure(spark, tracer, seconds)
        tracing = tracer.enabled
        tracer.enabled = False
        lat: list[float] = []
        lock = threading.Lock()
        stream = iter(self.requests)

        def client():
            # closed loop: the next request goes out when the last returned
            while True:
                with lock:
                    req = next(stream, None)
                if req is None:
                    return
                t0 = time.perf_counter()
                try:
                    ok, detail = self._read(spark, req)[2], f"request {req}"
                except Exception as e:  # a failed request counts as failed
                    ok, detail = False, f"request {req}: {e!r}"
                dt = time.perf_counter() - t0
                with lock:
                    lat.append(dt)
                    self.check("tile_pyramid.window_rows", ok, detail)

        t0 = time.perf_counter()
        threads = [threading.Thread(target=client) for _ in range(min(CLIENTS, self.nproc))]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        serve_wall = time.perf_counter() - t0
        res.update(read_lat=lat, serve_wall=serve_wall)
        tracer.enabled = tracing
        if tracing:
            # traced reads: serial, one span each, on a fixed prefix of the stream
            for req in self.requests[: self.size["traced_requests"]]:
                with tracer.span("sources.read_tiles_window", sql=True) as s:
                    call, ex, ok = self._read(spark, req)
                s.attrs.update(call_ms=call * 1e3, exec_ms=ex * 1e3)
                s.attrs["files_scanned"] = sum(
                    metric(n, "number of files read") or 0
                    for _, n in nodes_named(s.sql, "Scan parquet")
                )
                self.check("tile_pyramid.window_rows", ok, f"traced request {req}")
        return res

    def extra_metrics(self, res: dict) -> dict:
        files, size = tree_size(self.last_tree)
        cells = sum(len(self.index[a]["n"]) for a in LEVELS)
        lat_ms = [x * 1e3 for x in res["read_lat"]]
        return {
            "write_cells_per_s": (median(res["rates"]), "cells/s"),
            "tile_bytes_per_cell": (size / cells, "B/cell"),
            "tile_files": (files, "count"),
            "tile_read_p50_ms": (percentile(lat_ms, 50), "ms"),
            "tile_read_p90_ms": (percentile(lat_ms, 90), "ms"),
            "tile_read_p95_ms": (percentile(lat_ms, 95), "ms"),
            "tile_reads_per_s": (len(lat_ms) / res["serve_wall"], "req/s"),
        }

    def layer_metrics(self, tracer) -> dict:
        sp = by_name(tracer)
        files, size = tree_size(self.last_tree)
        out = {
            "functions.encode_s": median([s.dur for s in sp["functions.encode"]]),
            "functions.encode_call_ms": median([s.attrs["call_ms"] for s in sp["functions.encode"]]),
            "operators.cell_grid_s": median([s.dur for s in sp["operators.cell_grid"]]),
            "sources.write_tiles_s": median(
                [sum(s.dur for s in sp["sources.write_tiles"] if s.attrs["iteration"] == it)
                 for it in {s.attrs["iteration"] for s in sp["sources.write_tiles"]}]
            ),
            "sources.write_tiles_files": files,
            "sources.write_tiles_bytes": size,
        }
        for a in LEVELS:
            out[f"operators.grid_tiling_a{a}_s"] = median([s.dur for s in sp[f"operators.grid_tiling_a{a}"]])
            if a != 1:
                out[f"operators.grid_aggregation_a{a}_s"] = median(
                    [s.dur for s in sp[f"operators.grid_aggregation_a{a}"]])
        reads = sp["sources.read_tiles_window"]
        out["sources.read_tiles_window_call_ms"] = median([s.attrs["call_ms"] for s in reads])
        out["sources.tile_read_exec_ms"] = median([s.attrs["exec_ms"] for s in reads])
        out["sources.tile_read_files_scanned"] = median([s.attrs["files_scanned"] for s in reads])
        return out


@contextmanager
def traced_write_tiles(tracer, level: int):
    """In a traced build, wrap the sources layer's write_tiles (which the
    operators layer's grid_tiling calls) in its own span."""
    from pygridmap_spark.sources import sinks as S

    if not tracer.enabled:
        yield
        return
    inner = S.write_tiles

    def write_tiles(*args, **kwargs):
        with tracer.span("sources.write_tiles", level=level):
            return inner(*args, **kwargs)

    S.write_tiles = write_tiles
    try:
        yield
    finally:
        S.write_tiles = inner


# -- grid_overlay -------------------------------------------------------------

GRID_BBOX = (0.0, 0.0, 100_000.0, 100_000.0)
# polygons are generated inside this box: with the generator's vertex jitter
# and the multipolygon's shifted copy they stay inside GRID_BBOX, so the
# overlay must conserve the polygon layer's total ``pop``
POLY_BBOX = (12_000.0, 12_000.0, 72_000.0, 72_000.0)


class GridOverlay(Workload):
    """grid_maker (prll) under a seeded polygon mask, then distributed
    area_interpolate of the same polygons onto that grid."""

    name = "grid_overlay"
    LAYER_METRICS = (
        "operators.grid_maker_s", "operators.grid_maker_boundary_cells",
        "operators.area_interpolate_s", "operators.overlay_candidate_pairs",
        "operators.overlay_pieces", "operators.overlay_useful_ratio",
        "core.clip_area_us", "core.wkb_decode_us",
    )

    def generate(self, spark, folder: str) -> None:
        from pygridmap_spark.sources import polygons as PG

        self.poly_path = os.path.join(folder, "polygons")
        PG.synthetic_polygons(
            spark, n=self.size["polygons"], bbox=POLY_BBOX, seed=self.rng.randrange(1 << 30)
        ).coalesce(1).write.parquet(self.poly_path)
        self.cell = (GRID_BBOX[2] - GRID_BBOX[0]) / self.size["grid"]

    def _polys(self, spark):
        return spark.read.parquet(self.poly_path)

    def build_oracle(self, spark) -> None:
        """Cell count from the quadtree GridMaker (a different plan) and the
        polygon layer's total pop (what the overlay must conserve)."""
        from pyspark.sql import functions as F

        from pygridmap_spark.operators import gridding as GR

        polys = self._polys(spark)
        self.total_pop = polys.agg(F.sum("pop")).collect()[0][0]
        self.qtree_cells = GR.grid_maker(
            spark, polys, cell=(self.cell, self.cell), bbox=GRID_BBOX, mode="qtree"
        ).count()
        self.wkbs = [bytes(r[0]) for r in polys.select("geometry").orderBy("poly_id").collect()]

    def iterate(self, spark, tracer) -> float:
        from pyspark.sql import functions as F

        from pygridmap_spark.operators import gridding as GR
        from pygridmap_spark.operators import overlay as OV

        traced = tracer.enabled
        polys = self._polys(spark)
        with tracer.span("operators.grid_maker", sql=traced) as s_gm:
            cells = GR.grid_maker(
                spark, polys, cell=(self.cell, self.cell), bbox=GRID_BBOX, mode="prll"
            ).localCheckpoint(eager=True)
            n_cells = cells.count()
        with tracer.span("operators.area_interpolate", sql=traced) as s_ov:
            r = (
                OV.area_interpolate(
                    spark, polys, cells.withColumnsRenamed({"__x__": "x", "__y__": "y"}),
                    ["pop"], distributed=True,
                )
                .agg(F.sum("pop"), F.sum(F.size("__cover__")), F.count(F.lit(1)))
                .collect()[0]
            )
        pop, pieces = r[0] or 0.0, r[1] or 0
        self.check("grid_overlay.cell_count", n_cells == self.qtree_cells,
                   f"prll {n_cells} vs qtree {self.qtree_cells}")
        self.check("grid_overlay.mass", abs(pop - self.total_pop) <= 1e-9 * max(1.0, abs(self.total_pop)),
                   f"{pop} vs {self.total_pop}")
        if traced:
            self._sql_counts(s_gm, s_ov)
        else:
            self.gm_rates.append(n_cells / s_gm.dur)
            self.ov_rates.append(pieces / s_ov.dur)
        return float(pieces)

    def measure(self, spark, tracer, seconds: float) -> dict:
        self.gm_rates, self.ov_rates = [], []
        res = super().measure(spark, tracer, seconds)
        if tracer.enabled:
            self._core_bench()
        return res

    def _sql_counts(self, s_gm, s_ov) -> None:
        # grid_maker: the exact per-cell UDF sees only boundary-tile cells
        s_gm.attrs["boundary_cells"] = sum(
            metric(n, "number of output rows") or 0 for _, n in nodes_named(s_gm.sql, "MapInPandas")
        )
        # overlay: the clip UDF is the MapInPandas fed by a join; its input
        # rows are the candidate (cell, polygon) pairs, its output the pieces
        for e, n in nodes_named(s_ov.sql, "MapInPandas"):
            cand = rows_into(e, n)
            kids = [c["nodeName"] for c in _descend(e, n)]
            if any("Join" in k for k in kids):
                s_ov.attrs["candidate_pairs"] = cand
                s_ov.attrs["pieces"] = metric(n, "number of output rows")

    def _core_bench(self) -> None:
        """Driver-timed core kernels over a fixed, seeded sample of the
        workload's candidate (cell, polygon) pairs."""
        from pygridmap_spark.core import geometry as G
        from pygridmap_spark.core import wkb

        rng = random.Random(f"core:{self.seed}")
        polys = [wkb.decode_multipolygon(b) for b in self.wkbs]
        pairs = []
        c = self.cell
        for _ in range(self.size["core_pairs"]):
            mp = rng.choice(polys)
            bx0, by0, bx1, by1 = G.multipolygon_bbox(mp)
            x0 = np.floor(rng.uniform(bx0, bx1) / c) * c
            y0 = np.floor(rng.uniform(by0, by1) / c) * c
            pairs.append((mp, x0, y0, x0 + c, y0 + c))
        clip, dec = [], []
        for _ in range(5):
            t0 = time.perf_counter()
            for mp, a, b, cc, d in pairs:
                G.multipolygon_clip_area(mp, a, b, cc, d)
            clip.append((time.perf_counter() - t0) / len(pairs) * 1e6)
            t0 = time.perf_counter()
            for _ in range(10):
                for buf in self.wkbs:
                    wkb.decode_multipolygon(buf)
            dec.append((time.perf_counter() - t0) / (10 * len(self.wkbs)) * 1e6)
        self.core_us = (median(clip), median(dec))

    def extra_metrics(self, res: dict) -> dict:
        return {
            "grid_cells_per_s": (median(self.gm_rates), "cells/s"),
            "overlay_pieces_per_s": (median(self.ov_rates), "pieces/s"),
        }

    def layer_metrics(self, tracer) -> dict:
        sp = by_name(tracer)
        gm, ov = sp["operators.grid_maker"], sp["operators.area_interpolate"]
        cand = median([s.attrs.get("candidate_pairs") or 0 for s in ov])
        pieces = median([s.attrs.get("pieces") or 0 for s in ov])
        return {
            "operators.grid_maker_s": median([s.dur for s in gm]),
            "operators.grid_maker_boundary_cells": median([s.attrs.get("boundary_cells", 0) for s in gm]),
            "operators.area_interpolate_s": median([s.dur for s in ov]),
            "operators.overlay_candidate_pairs": cand,
            "operators.overlay_pieces": pieces,
            "operators.overlay_useful_ratio": pieces / cand if cand else 0.0,
            "core.clip_area_us": self.core_us[0],
            "core.wkb_decode_us": self.core_us[1],
        }


def _descend(execution, node):
    """Every node below ``node`` in the executed plan."""
    stack, seen = list(children(execution, node["nodeId"])), []
    while stack:
        n = stack.pop()
        seen.append(n)
        stack.extend(children(execution, n["nodeId"]))
    return seen


WORKLOADS = {w.name: w for w in (PagesJoin, TilePyramid, GridOverlay)}
