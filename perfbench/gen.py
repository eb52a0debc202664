"""Seeded flood-shaped inputs and the numpy reference the outputs are checked
against.

A day is an integer array ``X[cell, step, member]`` of GRIB packed values;
the discharge is ``float32(X / 10)``, exactly what a GRIB2 simple-packing
decoder yields for reference 0, binary scale 0 and decimal scale 1.  Every
value in a (cell, step) group is congruent to ``step - 1`` modulo 32, so the
30 medians of a cell are all distinct and the peak-timing order
(severity, median) has no ties.  Thresholds sit at ``(T + 0.5) / 10`` and can
never equal a discharge.
"""

from __future__ import annotations

import datetime as dt
import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

RES = 0.05
MEMBERS = 51
STEPS = 30
EPOCH = dt.date(1970, 1, 1)
NS_PER_DAY = 86_400 * 10**9


class Grid:
    """``nlat x nlon`` cells whose south-west corner is at (lat0, lon0);
    the origin is fixed so edge coordinates do not depend on the seed."""

    def __init__(self, nlat: int, nlon: int, lat0: float = 10.0,
                 lon0: float = 20.0):
        self.nlat, self.nlon, self.lat0, self.lon0 = nlat, nlon, lat0, lon0
        self.lat_idx0 = round(lat0 / RES)
        self.lon_idx0 = round(lon0 / RES)
        # cell centres, north to south (the GRIB scan order) and west to east
        self.lats = np.round(lat0 + (np.arange(nlat)[::-1] + 0.5) * RES, 3)
        self.lons = np.round(lon0 + (np.arange(nlon) + 0.5) * RES, 3)
        self.cell_lat = np.repeat(self.lats, nlon)
        self.cell_lon = np.tile(self.lons, nlat)

    @property
    def cells(self) -> int:
        return self.nlat * self.nlon


def make_thresholds(grid: Grid, rng: np.random.Generator):
    """Per-cell base level (in packed units / 32) and the 2/5/20-year
    thresholds, each at ``(T + 0.5) / 10``."""
    base = rng.uniform(80, 240, grid.cells)
    thr = np.stack([np.floor(32 * base * f) + 0.5 for f in (1.3, 1.8, 2.6)],
                   axis=1) / 10.0
    return base, thr


def make_day(grid: Grid, base: np.ndarray, rng: np.random.Generator,
             members: int = MEMBERS, hot: np.ndarray | None = None
             ) -> np.ndarray:
    """X[cell, step, member] (uint16): a flood wave (or trough) of random
    height, width and peak step on a sloping floor, times per-member
    log-normal spread.  `hot` cells get a floor far above their 2-year
    threshold, so they are never gray."""
    n = grid.cells
    step = np.arange(1, STEPS + 1)[None, :]
    peak = rng.integers(1, STEPS + 1, n)[:, None]
    floor = rng.uniform(0.6, 1.6, n)[:, None]
    if hot is not None:
        floor[hot] = 2.5
    height = rng.uniform(0.5, 3.6, n)[:, None]
    width = rng.uniform(1.5, 6.0, n)[:, None]
    trend = rng.uniform(-0.2, 0.2, n)[:, None] * (step - 1) / (STEPS - 1)
    level = base[:, None] * (floor + trend + (height - floor)
                             * np.exp(-((step - peak) / width) ** 2))
    sigma = rng.uniform(0.05, 0.45, n)[:, None, None]
    y = level[:, :, None] * np.exp(
        sigma * rng.standard_normal((n, STEPS, members)))
    y = np.clip(np.rint(y), 1, 2047).astype(np.int64)
    return (32 * y + (step[:, :, None] - 1)).astype(np.uint16)


def issue_date(day: int) -> dt.date:
    return dt.date(2024, 1, 1) + dt.timedelta(days=day)


# -- GRIB2 encoding (grid template 3.0, product 4.1, data template 5.0) -----

def _sec(num: int, body: bytes) -> bytes:
    return struct.pack(">IB", len(body) + 5, num) + body


def _grid_section(grid: Grid) -> bytes:
    d = round(RES * 1e6)
    la1 = round(grid.lats[0] * 1e6)
    lo1 = round(grid.lons[0] * 1e6)
    la2 = round(grid.lats[-1] * 1e6)
    lo2 = round(grid.lons[-1] * 1e6)
    tmpl = (bytes([6, 0]) + bytes(4) + bytes([0]) + bytes(4) + bytes([0])
            + bytes(4) + struct.pack(">II", grid.nlon, grid.nlat) + bytes(8)
            + struct.pack(">ii", la1, lo1) + bytes([0x30])
            + struct.pack(">ii", la2, lo2) + struct.pack(">II", d, d)
            + bytes([0]))          # scan: +i (west to east), -j (north to south)
    return _sec(3, bytes([0]) + struct.pack(">I", grid.cells) + bytes(2)
                + struct.pack(">H", 0) + tmpl)


def encode_step(grid: Grid, x_step: np.ndarray, issued: dt.date,
                step: int) -> bytes:
    """One lead-time file: one GRIB2 message per member, 16-bit simple
    packing of ``x_step[cell, member]``."""
    s1 = _sec(1, struct.pack(">HHBBB", 0, 0, 2, 0, 1)
              + struct.pack(">HBBBBB", issued.year, issued.month, issued.day,
                            0, 0, 0) + bytes([0, 1]))
    s3 = _grid_section(grid)
    prod = (bytes([0, 4, 2, 0, 0]) + struct.pack(">HB", 0, 0) + bytes([1])
            + struct.pack(">I", 24 * step)
            + bytes([1, 0]) + bytes(4) + bytes([255, 0]) + bytes(4))
    # reference 0, binary scale 0, decimal scale 1, 16 bits per value
    s5 = _sec(5, struct.pack(">IHfHH", grid.cells, 0, 0.0, 0, 1)
              + bytes([16, 0]))
    s6 = _sec(6, bytes([255]))
    out = []
    for m in range(x_step.shape[1]):
        s4 = _sec(4, struct.pack(">HH", 0, 1) + prod
                  + bytes([3, m, x_step.shape[1]]))
        s7 = _sec(7, x_step[:, m].astype(">u2").tobytes())
        body = s1 + s3 + s4 + s5 + s6 + s7 + b"7777"
        out.append(b"GRIB\x00\x00" + bytes([1, 2])
                   + struct.pack(">Q", 16 + len(body)) + body)
    return b"".join(out)


def write_grib_day(grid: Grid, x: np.ndarray, issued: dt.date,
                   directory: str) -> None:
    os.makedirs(directory, exist_ok=True)
    for s in range(STEPS):
        with open(os.path.join(directory, f"dis24_{s + 1:02d}.grib2"),
                  "wb") as f:
            f.write(encode_step(grid, x[:, s, :], issued, s + 1))


def write_raw_day(grid: Grid, x: np.ndarray, issued: dt.date,
                  path: str) -> None:
    """The raw parquet a decode writes: one row per (member, step, cell),
    ns-epoch longs, coordinates with the decoder's float noise."""
    n, steps, members = x.shape
    t0 = (issued - EPOCH).days * NS_PER_DAY
    step_ns = np.arange(1, steps + 1, dtype=np.int64) * NS_PER_DAY
    lat1 = round(grid.lats[0] * 1e6) / 1e6
    lon1 = round(grid.lons[0] * 1e6) / 1e6
    lats = np.repeat(lat1 - np.arange(grid.nlat) * RES, grid.nlon)
    lons = np.tile(lon1 + np.arange(grid.nlon) * RES, grid.nlat)
    # member-major, then step, then cell: the order a lead-time decode emits
    xt = x.transpose(2, 1, 0)
    table = pa.table({
        "number": np.repeat(np.arange(members, dtype=np.int64), steps * n),
        "latitude": np.tile(lats, members * steps),
        "longitude": np.tile(lons, members * steps),
        "time": np.full(n * steps * members, t0, dtype=np.int64),
        "step": np.tile(np.repeat(step_ns, n), members),
        "valid_time": t0 + np.tile(np.repeat(step_ns, n), members),
        "dis24": (xt.reshape(-1).astype(np.float64) / 10.0)
        .astype(np.float32),
    })
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


def write_thresholds(grid: Grid, thr: np.ndarray, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table({
        "latitude": grid.cell_lat, "longitude": grid.cell_lon,
        "threshold_2y": thr[:, 0], "threshold_5y": thr[:, 1],
        "threshold_20y": thr[:, 2]}),
        os.path.join(path, "part-0.parquet"))


# -- numpy reference ------------------------------------------------------

def reference(x: np.ndarray, thr: np.ndarray) -> dict:
    """Exact detailed statistics per (cell, step) and the per-cell ladders,
    computed the way the method defines them (linear-interpolation
    percentiles, the 0.30 probability bar, the 1.10 / 0.90 control
    factors, the black-border / early windows)."""
    dis = (x.astype(np.float64) / 10.0).astype(np.float32).astype(np.float64)
    n = dis.shape[2]
    p = np.stack([(dis >= thr[:, k, None, None]).sum(axis=2) / n
                  for k in range(3)], axis=2)          # [cell, step, 2/5/20]
    v = np.sort(dis, axis=2)

    def pct(q):
        pos = q * (n - 1)
        lo, hi = int(np.floor(pos)), int(np.ceil(pos))
        if lo == hi:
            return v[:, :, lo]
        return (hi - pos) * v[:, :, lo] + (pos - lo) * v[:, :, hi]

    med = pct(0.5)
    ref = {"p": p, "min": v[:, :, 0], "q1": pct(0.25), "median": med,
           "q3": pct(0.75), "max": v[:, :, -1]}
    ref.update(ladders(p, med, v[:, :, 0], v[:, :, -1]))
    return ref


def ladders(p: np.ndarray, med: np.ndarray, mn: np.ndarray,
            mx: np.ndarray) -> dict:
    """Per-cell tendency, intensity and peak timing from the detailed
    statistics (FIXTURES.md F3).  The ladders compare in double precision,
    as Spark does when a float sketch result meets a double factor."""
    med = med.astype(np.float64)
    control = med[:, 0]
    maxmed, minmed = med.max(axis=1), med.min(axis=1)
    tendency = np.where(maxmed > control * 1.10, "U",
                        np.where((minmed <= control * 0.90)
                                 & (maxmed <= control * 1.10), "D", "C"))
    mp = p.max(axis=1)
    intensity = np.where(mp[:, 2] >= 0.30, "P",
                         np.where(mp[:, 1] >= 0.30, "R",
                                  np.where(mp[:, 0] >= 0.30, "Y", "G")))
    severity = np.where(p[:, :, 2] >= 0.30, 1,
                        np.where(p[:, :, 1] >= 0.30, 2,
                                 np.where(p[:, :, 0] >= 0.30, 3, 4)))
    # worst severity first, then the highest median; medians of a cell are
    # distinct (see the module docstring), so the step tie-break never acts
    worst = severity == severity.min(axis=1)[:, None]
    peak = np.argmax(np.where(worst, med, -np.inf), axis=1) + 1
    start2 = p[:, :10, 0].max(axis=1)
    timing = np.where((peak >= 1) & (peak <= 3), "BB",
                      np.where((peak > 10) & (start2 < 0.30), "GC", "GB"))
    return {"control": control, "max_median": maxmed, "min_median": minmed,
            "max_max": mx.max(axis=1), "min_min": mn.min(axis=1),
            "tendency": tendency, "max_p": mp, "intensity": intensity,
            "peak_step": peak, "peak_timing": timing}
