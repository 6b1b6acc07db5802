"""Self-test of the benchmark's correctness checks: each workload's check
accepts the right result and rejects a wrong one, and BENCHMARK.json names
exactly the metrics run.py prints. Needs no Spark session.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import run  # noqa: E402
import scenes  # noqa: E402
import workloads  # noqa: E402

RES = 4.0


def register_cases() -> list[tuple[str, bool]]:
    out = []
    for name, planted in scenes.register_cases(400.0).items():
        exact = {"matrix": np.linalg.inv(planted).tolist(), "rmse_3d": 0.5}
        out.append((f"register {name}: exact inverse accepted",
                    not checks.check_register(exact, planted, RES)))
        off = np.linalg.inv(planted)
        off[0, 3] += RES
        out.append((f"register {name}: transform off by 1 res rejected",
                    bool(checks.check_register({**exact, "matrix": off.tolist()}, planted, RES))))
    planted = scenes.register_cases(400.0)["rot90_translate"]
    good = {"matrix": np.linalg.inv(planted).tolist(), "rmse_3d": 0.5}
    turned = scenes.about(scenes.similarity(1.0, 1.0), (200.0, 200.0)) @ np.linalg.inv(planted)
    scaled = scenes.similarity(1.02, 0.0) @ np.linalg.inv(planted)
    out += [
        ("register: 1 degree rotation error rejected",
         bool(checks.check_register({**good, "matrix": turned.tolist()}, planted, RES))),
        ("register: 2 % scale error rejected",
         bool(checks.check_register({**good, "matrix": scaled.tolist()}, planted, RES))),
        ("register: rmse_3d of 1 res rejected",
         bool(checks.check_register({**good, "rmse_3d": RES}, planted, RES))),
    ]
    return out


def vcd_cases() -> list[tuple[str, bool]]:
    n_new, n_fled = 50, 48
    good = pd.DataFrame({
        "status": ["New", "Fled"], "n_points": [n_new, n_fled],
        "mean_dz": [8.01, -5.98], "footprint_area": [1500.0, 1480.0],
    })
    rows = {"raised": 10, "lowered": 9}
    out = [("vcd: planted result accepted", not checks.check_vcd(good, n_new, n_fled, rows))]
    wrong = {
        "Fled cluster missing": good[good.status == "New"],
        "New dz off by 0.5 m": good.assign(mean_dz=[8.5, -5.98]),
        "New population short by 5": good.assign(n_points=[n_new - 5, n_fled]),
        "New footprint 400 m^2": good.assign(footprint_area=[400.0, 1480.0]),
        "no clusters": good.iloc[0:0],
    }
    out += [(f"vcd: {what} rejected", bool(checks.check_vcd(s, n_new, n_fled, rows)))
            for what, s in wrong.items()]
    out.append(("vcd: empty lowered product rejected",
                bool(checks.check_vcd(good, n_new, n_fled, {"raised": 10, "lowered": 0}))))
    return out


def record_cases() -> list[tuple[str, bool]]:
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "registration.json")
        with open(path, "w") as fh:
            fh.write("{}")
        later = time.time() + 5
        return [
            ("op: record written during the op accepted",
             not workloads._fresh_record(path, later - 10)),
            ("op: record older than the op rejected", bool(workloads._fresh_record(path, later))),
            ("op: missing record rejected",
             bool(workloads._fresh_record(os.path.join(d, "none.json"), 0.0))),
        ]


def manifest_cases() -> list[tuple[str, bool]]:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [
        ("BENCHMARK.json workloads are run.py's",
         [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)),
        ("BENCHMARK.json end_to_end is run.py's",
         {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END),
        ("BENCHMARK.json per_layer is run.py's",
         {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER),
    ]


def main() -> int:
    results = register_cases() + vcd_cases() + record_cases() + manifest_cases()
    for what, ok in results:
        print(f"{'ok  ' if ok else 'FAIL'} {what}")
    failed = sum(not ok for _, ok in results)
    print(f"{len(results) - failed}/{len(results)} passed")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
