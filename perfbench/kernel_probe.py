"""Mesh-kernel layer probe, timed on the driver outside Spark.

Two grid regimes, each meshed by terra and zemlya with the compiled
path and with `use_native=False`:
  smooth  a smooth synthetic DEM with a low insert fraction, the
          regime of the reference's published terra figure;
  noise   a hash-noise tile with a high insert fraction, the shape of
          web-point tiles.
Reports cells/s on one core per (kernel, regime, path), the insert
fraction per regime, and how often the native entry point returned
None (its fallback signal).
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from tin_terrain_spark.kernels import native
from tin_terrain_spark.kernels.raster import Grid
from tin_terrain_spark.kernels.terra import generate_tin_terra
from tin_terrain_spark.kernels.zemlya import generate_tin_zemlya

NATIVE_REPS = 5


def smooth_dem(seed: int, n: int = 256) -> np.ndarray:
    phase = (seed % 97) / 97.0
    x = np.linspace(0.0, 6.0, n)
    X, Y = np.meshgrid(x + phase, x)
    return (
        np.sin(X) * np.cos(Y * 0.7) * 400
        + np.exp(-((X - 3) ** 2 + (Y - 3) ** 2)) * 800
        + X * 30
    )


def noise_tile(seed: int, m: int = 68) -> np.ndarray:
    rng = np.random.RandomState(seed)
    xx = np.linspace(0.0, 1.0, m)
    XX, YY = np.meshgrid(xx, xx)
    return np.sin(XX * 9) * np.cos(YY * 7) * 30 + rng.rand(m, m) * 8


def _time(fn, z: np.ndarray, max_error: float, reps: int, **kw) -> tuple[float, int]:
    """Median seconds of `reps` calls on fresh grids, and the vertex count."""
    times, nv = [], 0
    for _ in range(reps):
        g = Grid(z.copy())
        t0 = time.perf_counter()
        verts, _ = fn(g, max_error, **kw)
        times.append(time.perf_counter() - t0)
        nv = len(verts)
    return statistics.median(times), nv


def probe(seed: int) -> dict[str, float]:
    out: dict[str, float] = {}
    fallbacks = 0
    # max_error 5 m on the smooth DEM inserts a few percent of cells,
    # 2 m on the noise tile about two thirds
    for regime, z, me in (("smooth", smooth_dem(seed), 5.0), ("noise", noise_tile(seed), 2.0)):
        cells = z.size
        for kname, fn, raw in (
            ("terra", generate_tin_terra, native.terra_native),
            ("zemlya", generate_tin_zemlya, native.zemlya_native),
        ):
            if raw(Grid(z.copy()), me) is None:
                fallbacks += 1
            t_nat, nv_nat = _time(fn, z, me, NATIVE_REPS)
            t_py, nv_py = _time(fn, z, me, 1, use_native=False)
            if nv_nat != nv_py:
                raise ValueError(
                    f"{kname}/{regime}: native {nv_nat} vs python {nv_py} vertices"
                )
            out[f"kernels.{kname}_{regime}_cells_per_s"] = cells / t_nat
            out[f"kernels.{kname}_{regime}_py_cells_per_s"] = cells / t_py
            if kname == "terra":
                out[f"kernels.insert_frac_{regime}"] = nv_nat / cells
    out["kernels.native_fallbacks"] = float(fallbacks)
    return out
