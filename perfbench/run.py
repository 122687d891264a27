#!/usr/bin/env python3
"""pygridmap_spark benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload pages_join --seed 1 --seconds 20 --trace 0

Runs from the root of a source checkout on ``local[nproc]``. Set-up (session
start + input generation into a fresh directory) is repeated and its median
reported; then the workload runs closed-loop iterations for ``--seconds``,
checking each result against an oracle built from a different plan. The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``). The line before it is a report with every workload-specific
metric by name and unit. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "work_per_s": "1/s",
}

PER_LAYER = {
    "session.start_s": "s",
    "sources.pages_scan_s": "s",
    "sources.pages_scan_bytes": "B",
    "functions.encode_s": "s",
    "functions.encode_call_ms": "ms",
    "operators.rect_pip_join_s": "s",
    "operators.rect_pip_join_candidate_rows": "count",
    "operators.rect_pip_join_kept_rows": "count",
    "operators.rect_pip_join_useful_ratio": "ratio",
    "operators.region_agg_s": "s",
    "operators.grid_maker_s": "s",
    "operators.grid_maker_boundary_cells": "count",
    "operators.area_interpolate_s": "s",
    "operators.overlay_candidate_pairs": "count",
    "operators.overlay_pieces": "count",
    "operators.overlay_useful_ratio": "ratio",
    "core.clip_area_us": "us",
    "core.wkb_decode_us": "us",
    "trace_overhead_s": "s",
}

# Input sizes. "full" is the benchmark; "tiny" is for the harness smoke test.
SIZES = {
    "full": {
        "pages_join": {"pages": 150_000, "warmup_s": 8, "min_iters": 3},
        "tile_pyramid": {"pages": 100_000, "warmup_s": 0, "min_iters": 3,
                         "requests": 200, "traced_requests": 20},
        "grid_overlay": {"grid": 125, "polygons": 60, "warmup_s": 0, "min_iters": 4,
                         "core_pairs": 400},
    },
    "tiny": {
        "pages_join": {"pages": 20_000, "warmup_s": 0, "min_iters": 2},
        "tile_pyramid": {"pages": 20_000, "warmup_s": 0, "min_iters": 2,
                         "requests": 12, "traced_requests": 3},
        "grid_overlay": {"grid": 40, "polygons": 6, "warmup_s": 0, "min_iters": 2,
                         "core_pairs": 40},
    },
}
SETUP_REPS = 3


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def driver_memory() -> str:
    """Well below physical RAM: a quarter of it, between 1 and 2 GiB, unless
    SPARK_DRIVER_MEMORY says otherwise."""
    if os.environ.get("SPARK_DRIVER_MEMORY"):
        return os.environ["SPARK_DRIVER_MEMORY"]
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(2, total // 4 // 2**30))}g"


class RssSampler(threading.Thread):
    """Peak resident memory of this process and every descendant (the
    driver JVM and its Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> int:
        parent = {}
        for pid in os.listdir("/proc"):
            if pid.isdigit():
                try:
                    with open(f"/proc/{pid}/stat") as fh:
                        parent[int(pid)] = int(fh.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    pass
        tree, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p and c not in tree]
            tree.update(kids)
            frontier.extend(kids)
        rss = 0
        for pid in tree:
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    rss += int(fh.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return rss

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, self.sample())
            self._stop_evt.wait(self.interval)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def start_session(traced: bool, workdir: str, cpus: int):
    from pygridmap_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.locality.wait": "0",
        # a fixed-size heap from the start: no iteration-to-iteration drift
        # from the JVM growing its heap; no hsperfdata files outside workdir
        "spark.driver.extraJavaOptions": (
            f"-Xms{os.environ['SPARK_DRIVER_MEMORY']} -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(workdir, 'tmp')}"
        ),
    }
    if traced:
        # the REST status API lives on the UI server; port 0 = any free port
        conf.update({"spark.ui.enabled": "true", "spark.ui.port": "0"})
    return get_spark(
        app="perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus, extra_conf=conf
    )


def stop_jvm() -> None:
    """Stop the driver JVM this process launched and wait for it to exit
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def finite(v) -> float:
    return float(v) if v is not None and math.isfinite(float(v)) else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES["full"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    args = ap.parse_args(argv)
    started = time.perf_counter()

    if not os.path.isdir(os.path.join(ROOT, "pygridmap_spark")):
        print(f"perfbench: no pygridmap_spark package under {ROOT}", file=sys.stderr)
        return 2

    cpus = nproc()
    base = os.path.join(ROOT, ".perfbench_work")
    workdir = os.path.join(base, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(workdir, "tmp"))
    # Spark local dirs, temp files and inputs all stay inside the run's own
    # directory, which is removed at exit; Python workers need the repo on
    # PYTHONPATH to unpickle the engine's UDFs
    os.environ["SPARK_LOCAL_DIRS"] = workdir
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEMORY"] = driver_memory()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.setdefault("PYARROW_IGNORE_TIMEZONE", "1")
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    sys.path[:0] = [ROOT, HERE]

    from tracing import Tracer
    from workloads import WORKLOADS, median

    rss = RssSampler()
    rss.start()
    wl = WORKLOADS[args.workload](SIZES[args.size][args.workload], args.seed, cpus)
    tracer = Tracer(bool(args.trace), args.workload, args.seed)
    settings = {
        "master": f"local[{cpus}]",
        "shuffle_partitions": cpus,
        "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
        "pythonpath": "<checkout root>",
        "size": args.size,
    }
    spark = None
    error = None
    try:
        setup_times, session_times = [], []
        for k in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = start_session(bool(args.trace), workdir, cpus)
            t1 = time.perf_counter()
            inputs = os.path.join(workdir, f"inputs-{k}")
            wl.generate(spark, inputs)
            setup_times.append(time.perf_counter() - t0)
            session_times.append(t1 - t0)
            if k:
                shutil.rmtree(os.path.join(workdir, f"inputs-{k - 1}"), ignore_errors=True)
        tracer.attach(spark)
        t0 = time.perf_counter()
        wl.build_oracle(spark)
        oracle_s = time.perf_counter() - t0
        res = wl.measure(spark, tracer, args.seconds)
        # both read the last tile tree, which the cleanup below removes
        extra = {k: (finite(v), u) for k, (v, u) in wl.extra_metrics(res).items()}
        layer = wl.layer_metrics(tracer) if args.trace else {}
    except Exception as e:  # the program failed: report it, not a result
        error = e
        import traceback

        traceback.print_exc()
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()
        rss.stop()
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    if error is not None:
        print(f"perfbench: {args.workload} failed: {error!r}", file=sys.stderr)
        return 1

    walls = res["walls"]
    if args.trace:
        values = {k: 0.0 for k in PER_LAYER}
        values["session.start_s"] = median(session_times)
        values.update(layer)
        values["trace_overhead_s"] = median(res["traced_walls"]) - median(walls)
        units = PER_LAYER
        trace_dir = os.path.join(ROOT, ".perfbench_traces")
        os.makedirs(trace_dir, exist_ok=True)
        trace_path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
        tracer.dump(trace_path, {"settings": settings, "layer_metrics": values,
                                 "untraced_walls_s": walls, "traced_walls_s": res["traced_walls"]})
        extra["trace_file"] = (os.path.relpath(trace_path, ROOT), "path")
    else:
        values = {
            "setup_s": median(setup_times),
            "wall_s": median(walls),
            "work_per_s": median(res["rates"]),
        }
        units = END_TO_END
    failed_share = wl.failed / max(1, wl.attempted)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "settings": settings,
        "samples": {"iterations": len(walls), "setup_reps": SETUP_REPS},
        "setup_reps_s": setup_times,
        "iteration_walls_s": walls,
        "run_s": time.perf_counter() - started,
        "checks": sorted(wl.checks),
        "layer_metrics": layer,
        "errors": wl.errors,
        "oracle_s": oracle_s,
        "metrics": {
            "failed_share": {"value": failed_share, "unit": "ratio"},
            "peak_rss_mb": {"value": rss.peak / 2**20, "unit": "MB"},
            **{k: {"value": v, "unit": u} for k, (v, u) in extra.items()},
        },
    }
    print("report " + json.dumps(report))
    result = {
        "correct": wl.failed == 0 and wl.attempted > 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": finite(values[k]), "unit": units[k]} for k in units},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
