"""Correctness checks for one benchmark op. Each returns a list of problems;
an empty list means the op's output is correct. They read only plain
numbers and pandas frames, so ``selftest.py`` can feed them wrong results
without a Spark session. Like ``scenes.py`` they use no codem_spark code,
so a defect in the program's own geometry helpers cannot hide itself."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd


def residual(found: np.ndarray, planted: np.ndarray) -> dict[str, float]:
    """Scale, Euler angles (degrees) and translation left over when the
    recovered AOI->foundation matrix is composed with the planted
    foundation->AOI one; all near neutral when registration inverted it."""
    m = np.asarray(found, dtype=np.float64) @ planted
    s = float(np.linalg.norm(m[:3, 0]))
    r = m[:3, :3] / s
    return {
        "scale": s,
        "omega": math.degrees(math.atan2(-r[1, 2], r[2, 2])),
        "phi": math.degrees(math.asin(max(-1.0, min(1.0, r[0, 2])))),
        "kappa": math.degrees(math.atan2(-r[0, 1], r[0, 0])),
        "trans_x": float(m[0, 3]),
        "trans_y": float(m[1, 3]),
        "trans_z": float(m[2, 3]),
    }


def check_register(fine: dict, planted: np.ndarray, res: float) -> list[str]:
    """The DSM-path recovery envelope of the registration tests: |scale-1| <
    0.01, every angle < 0.5 degrees, every translation < 0.5 res and fine
    3D RMSE < res."""
    d = residual(np.array(fine["matrix"]), planted)
    bad = []
    if not abs(d["scale"] - 1.0) < 0.01:
        bad.append(f"scale {d['scale']:.4f}")
    bad += [f"{a} {d[a]:.3f} deg" for a in ("omega", "phi", "kappa") if not abs(d[a]) < 0.5]
    bad += [f"{t} {d[t]:.3f} m" for t in ("trans_x", "trans_y", "trans_z") if not abs(d[t]) < 0.5 * res]
    if not fine["rmse_3d"] < res:
        bad.append(f"rmse_3d {fine['rmse_3d']:.3f}")
    return bad


def check_vcd(summaries: pd.DataFrame, n_new: int, n_fled: int,
              product_rows: dict[str, int]) -> list[str]:
    """The planted-change assertions of the VCD test: statuses {New, Fled},
    mean dz within 0.2 m of +8 / -6, clustered populations within 3 points
    of the planted ones, New footprint 800-2000 m^2, non-empty raised and
    lowered products."""
    if summaries.empty:
        return ["no clusters"]
    by = summaries.groupby("status").agg(n=("n_points", "sum"), dz=("mean_dz", "mean"))
    if set(by.index) != {"New", "Fled"}:
        return [f"statuses {sorted(by.index)}"]
    bad = []
    if not abs(by.loc["New", "dz"] - 8.0) < 0.2:
        bad.append(f"New dz {by.loc['New', 'dz']:.3f}")
    if not abs(by.loc["Fled", "dz"] + 6.0) < 0.2:
        bad.append(f"Fled dz {by.loc['Fled', 'dz']:.3f}")
    if not abs(by.loc["New", "n"] - n_new) <= 3:
        bad.append(f"New n {by.loc['New', 'n']} vs {n_new}")
    if not abs(by.loc["Fled", "n"] - n_fled) <= 3:
        bad.append(f"Fled n {by.loc['Fled', 'n']} vs {n_fled}")
    area = summaries.loc[summaries.status == "New", "footprint_area"].sum()
    if not 800 < area < 2000:
        bad.append(f"New footprint {area:.1f} m^2")
    bad += [f"empty product {p}" for p in ("raised", "lowered") if not product_rows.get(p, 0) > 0]
    return bad
