"""Output checks, made apart from the program: the published parquet is read
back with pyarrow and compared with the numpy reference in `gen`, or tested
against properties the method must have.  Every function returns a list of
problems; an empty list means the output is right."""

from __future__ import annotations

import datetime as dt
from fractions import Fraction

import numpy as np
import pyarrow.parquet as pq

from gen import RES, STEPS, Grid, ladders

SUMMARY_LADDERS = ("tendency", "intensity", "peak_timing")


def _cell_index(grid: Grid, lat: np.ndarray, lon: np.ndarray) -> np.ndarray:
    """Row-major (north to south, west to east) cell number of cell-centre
    keys; -1 for keys that are not a centre of the grid."""
    i = np.rint((lat - grid.lat0) / RES - 0.5).astype(np.int64)
    j = np.rint((lon - grid.lon0) / RES - 0.5).astype(np.int64)
    ok = ((i >= 0) & (i < grid.nlat) & (j >= 0) & (j < grid.nlon)
          & (np.round(grid.lat0 + (i + 0.5) * RES, 3) == lat)
          & (np.round(grid.lon0 + (j + 0.5) * RES, 3) == lon))
    return np.where(ok, (grid.nlat - 1 - i) * grid.nlon + j, -1)


def _wkt_ok(wkt: np.ndarray, lat: np.ndarray, lon: np.ndarray) -> bool:
    h = RES / 2
    for w, a, o in zip(wkt, lat, lon):
        pts = [tuple(float(v) for v in p.split())
               for p in w[len("POLYGON (("):-2].split(",")]
        lo_a, hi_a = round(a - h, 3), round(a + h, 3)
        lo_o, hi_o = round(o - h, 3), round(o + h, 3)
        if pts != [(lo_o, lo_a), (lo_o, hi_a), (hi_o, hi_a), (hi_o, lo_a),
                   (lo_o, lo_a)]:
            return False
    return True


def read_detailed(grid: Grid, path: str):
    """Detailed product as arrays [cell, step] over the cells it holds,
    plus a list of shape problems."""
    t = pq.read_table(path)
    lat = t.column("latitude").to_numpy()
    lon = t.column("longitude").to_numpy()
    cell = _cell_index(grid, lat, lon)
    step = t.column("step").to_numpy().astype(np.int64)
    probs = []
    if (cell < 0).any():
        probs.append(f"detailed: {(cell < 0).sum()} rows off the grid")
        return None, probs
    order = np.lexsort((step, cell))
    cells = np.unique(cell)
    if len(t) != len(cells) * STEPS:
        probs.append(f"detailed: {len(t)} rows for {len(cells)} cells "
                     f"(want cells x {STEPS})")
        return None, probs
    if not (step[order].reshape(-1, STEPS) == np.arange(1, STEPS + 1)).all():
        probs.append("detailed: steps are not 1..30 once per cell")
        return None, probs

    def arr(name):
        return t.column(name).to_numpy()[order].reshape(len(cells), STEPS)

    # a partition of a history table carries issued_on in its path only
    d = {k: arr(k) for k in ("p_above_2y", "p_above_5y", "p_above_20y",
                             "min_dis", "Q1_dis", "median_dis", "Q3_dis",
                             "max_dis", "issued_on", "valid_for")
         if k in t.column_names}
    d["cells"] = cells
    first = order.reshape(len(cells), STEPS)[:, 0]
    if not _wkt_ok(t.column("wkt").to_numpy()[first], lat[first], lon[first]):
        probs.append("detailed: wkt does not outline the cell")
    return d, probs


def read_summary(grid: Grid, path: str):
    t = pq.read_table(path)
    cell = _cell_index(grid, t.column("latitude").to_numpy(),
                       t.column("longitude").to_numpy())
    probs = []
    if (cell < 0).any():
        probs.append(f"summary: {(cell < 0).sum()} rows off the grid")
        return None, probs
    if len(np.unique(cell)) != len(cell):
        probs.append("summary: duplicate cell keys")
        return None, probs
    order = np.argsort(cell)
    s = {name: t.column(name).to_numpy(zero_copy_only=False)[order]
         for name in t.column_names}
    s["cells"] = cell[order]
    if not _wkt_ok(s["wkt"], s["latitude"], s["longitude"]):
        probs.append("summary: wkt does not outline the cell")
    return s, probs


def _dates(issued: dt.date, d: dict) -> list[str]:
    base = np.datetime64(issued, "D")
    steps = np.arange(STEPS)
    probs = []
    if "issued_on" in d and not (d["issued_on"] == base).all():
        probs.append("detailed: issued_on differs from the GRIB issue date")
    if not (d["valid_for"] == base + steps).all():
        probs.append("detailed: valid_for != issued_on + step - 1")
    return probs


def _same(name: str, got, want, exact: bool = True) -> list[str]:
    ok = (np.array_equal(got, want) if exact
          else np.allclose(got, want, rtol=1e-12, atol=0))
    return [] if ok else [f"{name}: differs from the reference"]


def check_exact(grid: Grid, ref: dict, issued: dt.date, det_path: str,
                sum_path: str) -> list[str]:
    """Both products of an exact run against the numpy reference."""
    d, probs = read_detailed(grid, det_path)
    s, p2 = read_summary(grid, sum_path)
    probs += p2
    if d is None or s is None:
        return probs
    keep = np.flatnonzero(ref["intensity"] != "G")
    if not np.array_equal(d["cells"], keep):
        return probs + ["detailed: cell set != non-gray reference cells"]
    if not np.array_equal(s["cells"], keep):
        return probs + ["summary: cell set != non-gray reference cells"]
    probs += _dates(issued, d)
    for k, y in enumerate((2, 5, 20)):
        probs += _same(f"p_above_{y}y", d[f"p_above_{y}y"], ref["p"][keep, :, k])
        probs += _same(f"max_p_above_{y}y", s[f"max_p_above_{y}y"],
                       ref["max_p"][keep, k])
    for col, key in (("min_dis", "min"), ("max_dis", "max"),
                     ("median_dis", "median")):
        probs += _same(col, d[col], ref[key][keep])
    for col, key in (("Q1_dis", "q1"), ("Q3_dis", "q3")):
        probs += _same(col, d[col], ref[key][keep], exact=False)
    for col, key in (("control_dis", "control"),
                     ("max_median_dis", "max_median"),
                     ("min_median_dis", "min_median"),
                     ("max_max_dis", "max_max"), ("min_min_dis", "min_min"),
                     ("peak_step", "peak_step")):
        probs += _same(col, s[col], ref[key][keep])
    for col in SUMMARY_LADDERS:
        probs += _same(col, s[col].astype(str), ref[col][keep])
    peak_day = np.datetime64(issued, "D") + s["peak_step"] - 1
    probs += _same("peak_day", s["peak_day"], peak_day)
    return probs


def check_approx(grid: Grid, ref: dict, x: np.ndarray, issued: dt.date,
                 det_path: str, sum_path: str) -> list[str]:
    """Both products of an approx run: exceedance, min and max exact; each
    sketch quantile a member value inside [min, max] within the sketch's
    rank error; the ladders consistent with the product's own statistics;
    unique summary keys and cells x 30 detailed rows."""
    d, probs = read_detailed(grid, det_path)
    s, p2 = read_summary(grid, sum_path)
    probs += p2
    if d is None or s is None:
        return probs
    keep = np.flatnonzero(ref["intensity"] != "G")
    if not np.array_equal(d["cells"], keep):
        return probs + ["detailed: cell set != non-gray reference cells"]
    if not np.array_equal(s["cells"], keep):
        return probs + ["summary: cell set != non-gray reference cells"]
    probs += _dates(issued, d)
    for k, y in enumerate((2, 5, 20)):
        probs += _same(f"p_above_{y}y", d[f"p_above_{y}y"], ref["p"][keep, :, k])
    probs += _same("min_dis", d["min_dis"], ref["min"][keep])
    probs += _same("max_dis", d["max_dis"], ref["max"][keep])
    vals = np.sort((x[keep].astype(np.float64) / 10.0)
                   .astype(np.float32).astype(np.float64), axis=2)
    n = vals.shape[2]
    slack = n / 10_000 + 1          # percentile_approx default accuracy
    for col, q in (("Q1_dis", 0.25), ("median_dis", 0.5), ("Q3_dis", 0.75)):
        v = d[col][:, :, None]
        if not (vals == v).any(axis=2).all():
            probs.append(f"{col}: not a member value of its group")
        if ((d[col] < d["min_dis"]) | (d[col] > d["max_dis"])).any():
            probs.append(f"{col}: outside [min, max]")
        below = (vals < v).sum(axis=2)
        upto = (vals <= v).sum(axis=2)
        if ((below > q * n + slack) | (upto < q * n - slack)).any():
            probs.append(f"{col}: rank further than the sketch error from q")
    p = np.stack([d["p_above_2y"], d["p_above_5y"], d["p_above_20y"]], axis=2)
    own = ladders(p, d["median_dis"], d["min_dis"], d["max_dis"])
    for col in SUMMARY_LADDERS:
        probs += _same(col, s[col].astype(str), own[col])
    for col, key in (("peak_step", "peak_step"), ("control_dis", "control"),
                     ("max_median_dis", "max_median"),
                     ("min_median_dis", "min_median"),
                     ("max_max_dis", "max_max"), ("min_min_dis", "min_min")):
        probs += _same(col, s[col], own[key])
    return probs


# -- lookups --------------------------------------------------------------

def expected_cell(grid: Grid, lat: str, lon: str) -> tuple[float, float]:
    """Centre of the cell holding a decimal coordinate, in exact
    arithmetic; a point on an edge belongs to the cell to its east/north."""
    res = Fraction(1, round(1 / RES))
    i = (Fraction(lat) / res).__floor__()
    j = (Fraction(lon) / res).__floor__()
    return (round(float((i + Fraction(1, 2)) * res), 3),
            round(float((j + Fraction(1, 2)) * res), 3))


def neighbours(lat: float, lon: float) -> set:
    return {(round(lat + a * RES, 3), round(lon + b * RES, 3))
            for a in (-1, 0, 1) for b in (-1, 0, 1)}


def check_point(rows, want: tuple, present: set) -> bool:
    keys = [(r["latitude"], r["longitude"]) for r in rows]
    if want not in present:
        return not keys
    return len(keys) == STEPS and set(keys) == {want}


def check_neighbourhood(rows, want: tuple, present: set) -> bool:
    keys = {(r["latitude"], r["longitude"]) for r in rows}
    primary = {(r["latitude"], r["longitude"]) for r in rows if r["is_primary"]}
    return (len(rows) == len(keys)
            and keys == neighbours(*want) & present
            and primary == ({want} & present))


def check_batch(rows, wants: dict, present: set) -> bool:
    got = {}
    for r in rows:
        got.setdefault((r["query_latitude"], r["query_longitude"]), []).append(
            (r["latitude"], r["longitude"]))
    want = {q: [c] for q, c in wants.items() if c in present}
    return got == want
