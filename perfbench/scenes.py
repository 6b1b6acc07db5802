"""Seeded input scenes for the benchmark workloads.

Every scene is a pure function of the seed, written as parquet point tables
(``pid, x, y, z``) with pandas, so input generation needs no Spark session
and is timed apart from set-up. The program only ever sees these files.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd


def surface(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Terrain plus a grid of flat-roofed buildings (pitch 80 m, 30 m wide):
    the registration scene of the repository's registration tests."""
    z = 10 * np.sin(x * 2 * np.pi / 700 + 0.3) * np.cos(y * 2 * np.pi / 900 - 1.7)
    z += 5 * np.sin(x * 2 * np.pi / 260) * np.cos(y * 2 * np.pi / 330)
    gx = np.floor(x / 80).astype(np.int64)
    gy = np.floor(y / 80).astype(np.int64)
    fx = x - gx * 80
    fy = y - gy * 80
    inside = (fx > 25) & (fx < 55) & (fy > 25) & (fy < 55)
    h = ((gx * 73856093 + gy * 19349663) % 97) / 97.0 * 18 + 4
    return z + np.where(inside, h, 0.0) + 50.0


def similarity(scale: float, kappa_deg: float, t=(0.0, 0.0, 0.0)) -> np.ndarray:
    """4x4 similarity: uniform scale, rotation about z, then translation."""
    k = math.radians(kappa_deg)
    m = np.eye(4)
    m[:2, :2] = scale * np.array([[math.cos(k), -math.sin(k)], [math.sin(k), math.cos(k)]])
    m[2, 2] = scale
    m[:3, 3] = t
    return m


def about(m: np.ndarray, c: tuple[float, float]) -> np.ndarray:
    """``m`` applied about the point ``c`` instead of the origin."""
    t = np.eye(4)
    t[:2, 3] = c
    ti = np.eye(4)
    ti[:2, 3] = (-c[0], -c[1])
    return t @ m @ ti


def register_cases(extent: float) -> dict[str, np.ndarray]:
    """The reference's five AOI perturbations, about the scene centre."""
    c = (extent / 2, extent / 2)
    shift = similarity(1.0, 0.0, (40.0, 25.0, 2.0))
    return {
        "identity": np.eye(4),
        "rot360": about(similarity(1.0, 360.0), c),
        "translate_x10": similarity(1.0, 0.0, (10.0, 0.0, 0.0)),
        "rot180": about(similarity(1.0, 180.0), c),
        "rot90_translate": shift @ about(similarity(1.0, 90.0), c),
    }


def _write(df: pd.DataFrame, path: str) -> str:
    df.to_parquet(path, index=False)
    return path


def _transform(df: pd.DataFrame, m: np.ndarray) -> pd.DataFrame:
    a = np.column_stack([df.x, df.y, df.z, np.ones(len(df))]) @ m.T
    return pd.DataFrame({"pid": df.pid.to_numpy(), "x": a[:, 0], "y": a[:, 1], "z": a[:, 2]})


@dataclass
class RegisterScene:
    foundation: str
    aois: dict[str, str]
    truth: dict[str, np.ndarray]
    resolution: float


def register_scene(seed: int, out_dir: str, n: int, extent: float) -> RegisterScene:
    """Foundation of ``n`` points over ``extent`` metres; the AOI is its
    inner 60 % crop, perturbed once per case. The seed draws the points and
    their 5 cm height noise."""
    rng = np.random.default_rng(seed)
    x = rng.uniform(0, extent, n)
    y = rng.uniform(0, extent, n)
    fnd = pd.DataFrame({"pid": np.arange(n), "x": x, "y": y,
                        "z": surface(x, y) + rng.normal(0, 0.05, n)})
    lo, hi = 0.2 * extent, 0.8 * extent
    aoi = fnd[(x > lo) & (x < hi) & (y > lo) & (y < hi)].reset_index(drop=True)
    cases = register_cases(extent)
    return RegisterScene(
        foundation=_write(fnd, os.path.join(out_dir, "register_fnd.parquet")),
        aois={name: _write(_transform(aoi, m), os.path.join(out_dir, f"register_aoi_{name}.parquet"))
              for name, m in cases.items()},
        truth=cases,
        resolution=4.0,
    )


@dataclass
class VcdScene:
    before: str
    after: str
    n_new: int
    n_fled: int


def vcd_scene(seed: int, out_dir: str, n: int, extent: float = 1000.0) -> VcdScene:
    """Smooth field sampled at ``n`` shared xy positions; in the after epoch
    one 40 x 40 m building appears (+8 m) and one vanishes (-6 m). The seed
    draws the points and the two building positions (30 m or more apart)."""
    rng = np.random.default_rng(seed)
    x = rng.uniform(0, extent, n)
    y = rng.uniform(0, extent, n)
    z = 5 * np.sin(x / 90) * np.cos(y / 110) + 20
    while True:
        (nx, ny), (fx, fy) = rng.uniform(60, extent - 100, (2, 2))
        if max(abs(nx - fx), abs(ny - fy)) > 70:
            break
    new_b = (x > nx) & (x < nx + 40) & (y > ny) & (y < ny + 40)
    fled = (x > fx) & (x < fx + 40) & (y > fy) & (y < fy + 40)
    z2 = z.copy()
    z2[new_b] += 8.0
    z2[fled] -= 6.0
    before = pd.DataFrame({"pid": np.arange(n), "x": x, "y": y, "z": z})
    after = pd.DataFrame({"pid": np.arange(n) + 10**6, "x": x, "y": y, "z": z2})
    return VcdScene(
        before=_write(before, os.path.join(out_dir, "vcd_before.parquet")),
        after=_write(after, os.path.join(out_dir, "vcd_after.parquet")),
        n_new=int(new_b.sum()),
        n_fled=int(fled.sum()),
    )


def registration_1m(seed: int = 17):
    """The 1.2M-point, 2000 m scene of the repository's ``bench.py``
    ``registration_1m`` leg (seed 17 there), as pandas frames: a 1200 m AOI
    rotated 90 degrees about the scene centre and shifted by (40, 25, 2)."""
    rng = np.random.default_rng(seed)
    n = 1_200_000
    fx = rng.uniform(0, 2000, n)
    fy = rng.uniform(0, 2000, n)
    gx = np.floor(fx / 80).astype(np.int64)
    gy = np.floor(fy / 80).astype(np.int64)
    inside = ((fx - gx * 80) > 25) & ((fx - gx * 80) < 55) & (
        (fy - gy * 80) > 25) & ((fy - gy * 80) < 55)
    h = ((gx * 73856093 + gy * 19349663) % 97) / 97.0 * 18 + 4
    fz = (10 * np.sin(fx * 2 * np.pi / 1400 + 0.3) * np.cos(fy * 2 * np.pi / 1800 - 1.7)
          + np.where(inside, h, 0.0) + 50.0)
    m = (fx > 400) & (fx < 1600) & (fy > 400) & (fy < 1600)
    truth = similarity(1.0, 0.0, (40.0, 25.0, 2.0)) @ about(similarity(1.0, 90.0), (1000.0, 1000.0))
    fnd = pd.DataFrame({"pid": np.arange(n), "x": fx, "y": fy, "z": fz})
    aoi = _transform(fnd[m].reset_index(drop=True), truth)
    aoi["pid"] = np.arange(len(aoi))
    return fnd, aoi, truth, (0.0, 0.0, 2000.0, 2000.0)
