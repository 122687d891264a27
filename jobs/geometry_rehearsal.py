#!/usr/bin/env python
"""Volume rehearsal for the geometry family: a multi-million-piece
distributed overlay (grid x irregular polygon layer, WKB pieces) followed
by a strict per-polygon dissolve — the scale evidence for
``grid_overlay_polygons`` / ``dissolve_pieces`` that the dedup
family got from ``scale_rehearsal.py``.

The layers are synthesized IN Spark (no driver geometry):

- a 1000x1000 cell grid (1M cells, ``sources.polygons.grid_layer`` —
  sequence x sequence, distributed),
- N irregular diamonds (rotated quads, the general S-H clip path, NOT the
  rect fast path) with deterministic centers/sizes from the id,
- ONE mega-polygon covering 400x400 cells (~160k cover cells / pieces) —
  the continent-in-a-country-table skew case. Its cover cells spread
  across MANY grid keys by construction (the design's first skew
  defense), while its WKB join-back rides ONE hot ``poly_id`` key — the
  rehearsal lowers AQE's skew thresholds to local scale (at lake scale
  the 256 MB default hits naturally) and asserts the final adaptive plan
  actually took the skew split (``skew=true``).

The dissolve stage then measures the irreducible hot-GROUP tail: an
applyInPandas group cannot be split, so the mega polygon's 160k-piece
dissolve is one task — reported separately from the 100k parallel groups.

Usage:
    python jobs/geometry_rehearsal.py --polys 100000 [--mega-cells 400]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

GRID_N = 1000          # cells per axis
CELL = 100.0           # cell size
DOMAIN = GRID_N * CELL


def make_layers(spark, n_polys: int, mega_cells: int):
    """(cells, polygons) — polygons are diamonds + one mega rect, WKB
    encoded in a distributed Arrow pass (no driver loop)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from pygridmap_spark.core import wkb as WKB
    from pygridmap_spark.sources import polygons as PG

    cells = PG.grid_layer(
        spark, bbox=(0.0, 0.0, DOMAIN, DOMAIN), cell=(CELL, CELL)
    ).drop("geometry")

    mega_half = mega_cells * CELL / 2.0
    mega_lo, mega_hi = DOMAIN / 2.0 - mega_half, DOMAIN / 2.0 + mega_half

    def _gen(batches):
        for batch in batches:
            if not len(batch):
                continue
            ids = batch["id"].to_numpy()
            # deterministic centers with margin so every diamond lies
            # fully inside the grid (dissolved area == polygon area)
            cx = 1000.0 + (ids * 2654435761 % 980_000) / 10.0
            cy = 1000.0 + (ids * 2246822519 % 980_000) / 10.0
            s = CELL * (1 + ids % 3)  # half-extent 100/200/300
            rows = {"poly_id": [], "geometry": [], "pop": []}
            for i, pid in enumerate(ids):
                if pid == n_polys:  # the mega rect
                    ring = np.array(
                        [
                            [mega_lo, mega_lo], [mega_hi, mega_lo],
                            [mega_hi, mega_hi], [mega_lo, mega_hi],
                        ]
                    )
                else:
                    ring = np.array(
                        [
                            [cx[i] - s[i], cy[i]], [cx[i], cy[i] - s[i]],
                            [cx[i] + s[i], cy[i]], [cx[i], cy[i] + s[i]],
                        ]
                    )
                rows["poly_id"].append(int(pid))
                rows["geometry"].append(WKB.encode_polygon([ring]))
                rows["pop"].append(1.0)
            yield pd.DataFrame(rows)

    polys = (
        spark.range(n_polys + 1)
        .repartition(64)
        .mapInPandas(_gen, "poly_id long, geometry binary, pop double")
    )
    return cells, polys


from jobs._metrics import rest_stages as _rest_stages  # noqa: E402


def _skew_evidence(spark) -> dict:
    """Skew-split evidence from the EXECUTED adaptive plans (the REST /sql
    endpoint carries the final plan; a fresh `df.queryExecution()` on the
    Python side is a never-executed copy with isFinalPlan=false — grepping
    that was this rehearsal's first bug)."""
    ui = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    url = (
        f"{ui}/api/v1/applications/{app}/sql"
        "?details=true&planDescription=true&length=200"
    )
    with urllib.request.urlopen(url, timeout=30) as r:
        sqls = json.loads(r.read())
    out = {"smj_skew_true": False, "skewed_partitions": 0, "skew_splits": 0}
    for s in sqls:
        if "SortMergeJoin(skew=true)" in s.get("planDescription", ""):
            out["smj_skew_true"] = True
        for n in s.get("nodes", []):
            for m in n.get("metrics", []):
                name = m.get("name", "")
                try:
                    v = int(str(m.get("value", "0")).split()[-1].replace(",", ""))
                except ValueError:
                    continue
                if name == "number of skewed partitions":
                    out["skewed_partitions"] = max(out["skewed_partitions"], v)
                elif name == "number of skewed partition splits":
                    out["skew_splits"] = max(out["skew_splits"], v)
    return out


def _shuffle_mb(stages) -> dict:
    """Whole-app shuffle totals (all completed stages)."""
    w = sum(s.get("shuffleWriteBytes", 0) for s in stages) / 1e6
    r = sum(s.get("shuffleReadBytes", 0) for s in stages) / 1e6
    return {"write_mb": round(w, 1), "read_mb": round(r, 1)}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--polys", type=int, default=100_000)
    ap.add_argument("--mega-cells", type=int, default=400)
    ap.add_argument("--keep-work", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from pygridmap_spark.operators import overlay as OV
    from pygridmap_spark.session import get_spark

    spark = get_spark(
        app="geometry_rehearsal",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024),
            # demonstrate the skew split at local scale: the mega polygon's
            # poly_id join-back partition is ~10 MB here vs the 256 MB
            # default threshold that would catch it at lake scale
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "2m",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1m",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
            # at lake scale the polygon layer (ids + WKB) is far beyond
            # broadcast range and the pair/join-back joins run as
            # sort-merge; locally even a 100k-poly layer compresses under
            # the threshold and AQE broadcasts everything — disable
            # broadcast outright so the rehearsal exercises the at-scale
            # plan shape (and its skew split), not the small-data shortcut
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        },
    )
    work = tempfile.mkdtemp(prefix="geom_rehearsal_")
    report: dict = {"polys": args.polys, "grid_cells": GRID_N * GRID_N,
                    "mega_cover_cells": args.mega_cells ** 2}
    try:
        cells, polys = make_layers(spark, args.polys, args.mega_cells)
        cells = cells.persist()
        polys = polys.persist()
        n_cells, n_polys = cells.count(), polys.count()

        # ---- stage 1: distributed overlay -> WKB pieces --------------
        t0 = time.time()
        pieces = OV.grid_overlay_polygons(
            cells, polys, [], rule=None, emit_wkb=True
        )
        pieces_path = os.path.join(work, "pieces")
        pieces.write.mode("overwrite").parquet(pieces_path)
        t_overlay = time.time() - t0
        try:
            skew = _skew_evidence(spark)
        except Exception as e:
            skew = {"error": str(e)}
        pieces_df = spark.read.parquet(pieces_path)
        n_pieces = pieces_df.count()
        mega_pieces = pieces_df.filter(F.col("poly_id") == args.polys).count()
        report["overlay"] = {
            "wall_sec": round(t_overlay, 1),
            "pieces": n_pieces,
            "mega_pieces": mega_pieces,
            "pieces_per_sec": round(n_pieces / t_overlay),
            "aqe_skew": skew,
        }

        # ---- stage 2: strict per-polygon dissolve (flat vs 2-level) --
        want_mega = (args.mega_cells * CELL) ** 2
        blk = (
            (F.col("cell_id") % GRID_N / 32).cast("long") * 1000
            + (F.col("cell_id") / GRID_N / 32).cast("long")
        )
        for mode, presplit in (("flat", None), ("hierarchical", "block")):
            src = pieces_df.withColumn("block", blk) if presplit else pieces_df
            t1 = time.time()
            dis = OV.dissolve_pieces(
                src, group_col="poly_id", strict=True, presplit_col=presplit
            )
            dis_path = os.path.join(work, f"dissolved_{mode}")
            dis.write.mode("overwrite").parquet(dis_path)
            t_dissolve = time.time() - t1
            dd = spark.read.parquet(dis_path)
            n_groups = dd.count()
            # exactness: every fully-inside polygon dissolves back to its
            # own area; total dissolved area == total planted area
            tot = dd.agg(F.sum("area")).collect()[0][0]
            mega_row = dd.filter(F.col("poly_id") == args.polys).collect()[0]
            report[f"dissolve_{mode}"] = {
                "wall_sec": round(t_dissolve, 1),
                "groups": n_groups,
                "groups_per_sec": round(n_groups / t_dissolve),
                "total_area": tot,
                "mega_n_pieces": int(mega_row["n_pieces"]),
                "mega_area_exact": bool(abs(mega_row["area"] - want_mega) < 1e-6),
            }

        # ---- shuffle totals (whole app; dominated by the two stages) --
        try:
            report["shuffle_totals"] = _shuffle_mb(_rest_stages(spark))
        except Exception as e:  # UI off / parse issue: report, don't fail
            report["shuffle_totals"] = {"error": str(e)}
        print(json.dumps(report))
    finally:
        if not args.keep_work:
            shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
