#!/usr/bin/env python3
"""Tiny-size smoke test of the benchmark harness.

    python3 perfbench/smoke.py

For every workload (those in BENCHMARK.json and tile_pyramid, which the
time budget keeps out of it) it runs the harness at ``--size tiny``
untraced and traced, and asserts that

- the last stdout line is the result object with exactly the keys
  ``correct``, ``attempted``, ``failed``, ``metrics``, and the run is correct;
- every end-to-end (untraced) or per-layer (traced) metric named in
  BENCHMARK.json is printed with its unit, and every end-to-end and
  per-layer metric the workload owns is non-zero;
- every correctness check of the workload ran;
- the report line names the workload-specific end-to-end metrics.

Finally it runs the command in a directory that holds only BENCHMARK.json
and perfbench/, where it must fail without printing a result.
Exits non-zero on the first failed assertion.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402

CHECKS = {
    "pages_join": {"pages_join.region_counts"},
    "tile_pyramid": {"tile_pyramid.level_sum", "tile_pyramid.info_bounds",
                     "tile_pyramid.window_rows"},
    "grid_overlay": {"grid_overlay.cell_count", "grid_overlay.mass"},
}
OWNED_E2E = {"setup_s", "wall_s", "work_per_s"}
REPORTED = {
    "pages_join": {"failed_share", "pages_per_s"},
    "tile_pyramid": {"failed_share", "write_cells_per_s", "tile_bytes_per_cell", "tile_files",
                     "tile_read_p50_ms", "tile_read_p90_ms", "tile_read_p95_ms", "tile_reads_per_s"},
    "grid_overlay": {"failed_share", "grid_cells_per_s", "overlay_pieces_per_s"},
}


def run(cmd, cwd, workload, trace):
    p = subprocess.run(
        [*cmd, "--workload", workload, "--seed", "7", "--seconds", "2",
         "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return p.returncode, p.stdout.strip().splitlines(), p.stderr


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    cmd = bench["command"]
    names = [w["name"] for w in bench["workloads"]]
    assert set(names) <= set(WORKLOADS), names
    for w in WORKLOADS:
        for trace, spec in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            code, out, err = run(cmd, ROOT, w, trace)
            assert code == 0 and len(out) >= 2, f"{w} trace={trace}: exit {code}\n{err[-3000:]}"
            result = json.loads(out[-1])
            assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
            assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, result
            got = result["metrics"]
            assert set(got) == {m["name"] for m in spec}, set(got) ^ {m["name"] for m in spec}
            for m in spec:
                assert got[m["name"]]["unit"] == m["unit"], (m, got[m["name"]])
            report = json.loads(out[-2].split(" ", 1)[1])
            if trace == 0:
                owned = {k: got[k]["value"] for k in OWNED_E2E}
            else:
                owned = {k: report["layer_metrics"][k] for k in WORKLOADS[w].LAYER_METRICS}
                owned["session.start_s"] = got["session.start_s"]["value"]
            for k, v in owned.items():
                assert v != 0, f"{w}: {k} is 0"
            assert set(report["checks"]) == CHECKS[w], (w, report["checks"])
            assert REPORTED[w] <= set(report["metrics"]), (w, report["metrics"].keys())
            for k in REPORTED[w]:
                assert report["metrics"][k]["unit"], (w, k)
            print(f"ok {w} trace={trace}: {result['attempted']} checked operations")

    # a directory with only the benchmark files: must fail, print no result
    work = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(work, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=work) as bare:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in bench["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        code, out, _ = run(cmd, bare, names[0], 0)
        assert code != 0 and not any(line.startswith("{") for line in out), (code, out)
        print("ok bare directory: exit", code)
    os.rmdir(work)
    return 0


if __name__ == "__main__":
    sys.exit(main())
