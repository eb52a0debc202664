"""The benchmark's workloads.  Each drives flood_data_spark only through its
public functions, on inputs made by `gen`, and keeps what its checks need so
they run after the timed loop.

A workload runs whole rounds: the same operations in the same proportions
every round, so the share of failed operations is the same in every run.
The number of rounds depends on the run length alone (`rounds`), never on
how fast the program is, so two versions of the program are timed on the
same operations at the same positions after the warm-up.
"""

from __future__ import annotations

import math
import os
import statistics
import time

import numpy as np

import check
import gen
from flood_data_spark.functions.geometry import add_geometry
from flood_data_spark.operators.intensity import flood_intensity
from flood_data_spark.operators.peak_timing import flood_peak_timing
from flood_data_spark.operators.serving import (batch_point_lookup,
                                                neighborhood_lookup,
                                                point_lookup)
from flood_data_spark.operators.summary import (assemble_summary,
                                                control_from_detailed)
from flood_data_spark.operators.tendency import flood_tendency
from flood_data_spark.operators.threshold import ensemble_threshold_summary
from flood_data_spark.plans.daily_pipeline import DailyForecastPipeline
from flood_data_spark.sources.parquet import (read_forecast, read_thresholds,
                                              upsert_partitions, write_parquet)
from flood_data_spark.sources.raster import read_rasters


class Workload:
    """Shared state: the session, the tracer, a seeded generator and a
    directory of its own.  `times` holds (kind, seconds) per timed op;
    `layer` holds the traced run's isolated layer timings."""

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark, self.tracer, self.work = spark, tracer, work
        self.rng = np.random.default_rng(seed)
        self.times: list[tuple[str, float]] = []
        self.layer: dict[str, float] = {}

    # seconds a round is sized at: a run of --seconds S times
    # ceil(S / round_s) rounds, which today take longer than S
    round_s = 4.0

    @classmethod
    def rounds(cls, seconds: float) -> int:
        return max(1, math.ceil(seconds / cls.round_s))

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def timed(self, kind: str, fn):
        t = time.perf_counter()
        out = fn()
        self.times.append((kind, time.perf_counter() - t))
        self.tracer.resolve()
        return out


class DailyCycle(Workload):
    """The daily job as operated: decode the day's 30 GRIB2 lead-time files,
    write the raw day, read it back, run the exact pipeline with its QA
    checks, publish both products.  One op is one new issue day; a round is
    one day, after two warm-up days.

    After the timed loop the traced run also measures, on the timed days'
    inputs, each pipeline operator alone and the backfill path: every timed
    day recomputed from its raw parquet with the sketch aggregate and no
    checks, both products upserted into a history partitioned by issued_on,
    then the first of them re-issued with new values."""

    nlat, nlon = 10, 20

    def generate(self) -> None:
        self.grid = gen.Grid(self.nlat, self.nlon)
        self.base, self.thr = gen.make_thresholds(self.grid, self.rng)
        self.thr_path = self.path("thresholds")
        gen.write_thresholds(self.grid, self.thr, self.thr_path)
        self.days: list[dict] = []       # every op's inputs and outputs
        self.rows_per_op = self.grid.cells * gen.STEPS * gen.MEMBERS
        self.leaked: list[int] = []      # persisted RDDs added per op
        self.files_written: list[int] = []
        self.history = {"detailed": self.path("history", "detailed"),
                        "summary": self.path("history", "summary")}
        self.backfilled: list[dict] = []

    def new_day(self, issue: int) -> dict:
        day = {"n": len(self.days), "issue": issue,
               "issued": gen.issue_date(issue),
               "x": gen.make_day(self.grid, self.base, self.rng)}
        self.days.append(day)
        d = self.path("days", str(day["n"]))
        day.update(raw=os.path.join(d, "raw"),
                   detailed=os.path.join(d, "detailed"),
                   summary=os.path.join(d, "summary"))
        return day

    def warmup(self) -> None:
        # the first day compiles and loads most of what a day needs; the
        # second still runs about a quarter slower than the ones after it
        for _ in range(2):
            self.op(self.prepare())

    def run_round(self) -> None:
        self.op(self.prepare(), timed=True)

    def prepare(self) -> dict:
        day = self.new_day(len(self.days))
        grib = self.path("days", str(day["n"]), "grib")
        gen.write_grib_day(self.grid, day["x"], day["issued"], grib)
        day["grib"] = os.path.join(grib, "*.grib2")
        return day

    def op(self, day: dict, timed: bool = False) -> None:
        jsc = self.spark.sparkContext._jsc
        before = jsc.getPersistentRDDs().size()
        if timed:
            self.timed("day", lambda: self.process(day))
            self.files_written.append(sum(
                n.startswith("part-") for d in (day["detailed"],
                                                day["summary"])
                for n in os.listdir(d)))
        else:
            self.process(day)
        self.leaked.append(jsc.getPersistentRDDs().size() - before)

    def read_inputs(self, raw: str):
        with self.tracer.span("sources.parquet.read_plan"):
            return (read_forecast(self.spark, raw),
                    read_thresholds(self.spark, self.thr_path))

    def process(self, day: dict) -> None:
        tr = self.tracer
        with tr.span("sources.raster.ingest"):
            write_parquet(read_rasters(self.spark, day["grib"]), day["raw"])
        fc, th = self.read_inputs(day["raw"])
        with tr.span("plans.daily_pipeline.run"):
            products = DailyForecastPipeline(accuracy_mode="exact").run(
                fc, th, run_checks=True)
        with tr.span("sources.parquet.publish_detailed"):
            write_parquet(products.detailed, day["detailed"])
        with tr.span("sources.parquet.publish_summary"):
            write_parquet(products.summary, day["summary"])

    def backfill(self, day: dict) -> None:
        tr = self.tracer
        fc, th = self.read_inputs(day["raw"])
        with tr.span("plans.daily_pipeline.run_approx"):
            products = DailyForecastPipeline(accuracy_mode="approx").run(
                fc, th, run_checks=False)
        with tr.span("sources.parquet.upsert_detailed"):
            upsert_partitions(products.detailed, self.history["detailed"],
                              "issued_on")
        with tr.span("sources.parquet.upsert_summary"):
            upsert_partitions(products.summary, self.history["summary"],
                              "issued_on")
        tr.resolve()
        self.backfilled.append(day)

    def isolate_layers(self) -> None:
        """Traced run only, after the timed loop: each operator of the
        pipeline alone on the last day's input into the noop sink (median
        of three), then the backfill path."""
        last = self.days[-1]
        fc, th = (read_forecast(self.spark, last["raw"]),
                  read_thresholds(self.spark, self.thr_path))
        iso = self.path("isolated")

        def noop(name, build):
            ts = []
            for _ in range(3):
                t = time.perf_counter()
                build().write.format("noop").mode("overwrite").save()
                ts.append(time.perf_counter() - t)
            self.layer[name] = statistics.median(ts)

        noop("operators.threshold.summary_approx_s",
             lambda: ensemble_threshold_summary(fc, th,
                                                accuracy_mode="approx"))
        summ = lambda: ensemble_threshold_summary(fc, th,
                                                  accuracy_mode="exact")
        noop("operators.threshold.summary_s", summ)
        write_parquet(summ(), os.path.join(iso, "detailed"))
        det = self.spark.read.parquet(os.path.join(iso, "detailed"))
        with_control = det.join(control_from_detailed(det),
                                on=["latitude", "longitude"], how="left")
        parts = {"tendency": lambda: flood_tendency(with_control),
                 "intensity": lambda: flood_intensity(det),
                 "peak_timing": lambda: flood_peak_timing(det)}
        noop("operators.tendency.flood_tendency_s", parts["tendency"])
        noop("operators.intensity.flood_intensity_s", parts["intensity"])
        noop("operators.peak_timing.flood_peak_timing_s",
             parts["peak_timing"])
        done = {}
        for k, build in parts.items():
            write_parquet(build(), os.path.join(iso, k))
            done[k] = self.spark.read.parquet(os.path.join(iso, k))
        noop("operators.summary.assemble_s", lambda: assemble_summary(
            done["tendency"], done["intensity"], done["peak_timing"]))
        noop("functions.geometry.add_geometry_s", lambda: add_geometry(det))

        timed_days = self.days[-len(self.times):]
        for day in timed_days:
            self.backfill(day)
        again = self.new_day(timed_days[0]["issue"])
        gen.write_raw_day(self.grid, again["x"], again["issued"],
                          again["raw"])
        self.backfill(again)

    def check(self) -> tuple[list[str], int]:
        probs = []
        for day in self.days:
            if "grib" not in day:
                continue                  # a re-issue made for the backfill
            ref = gen.reference(day["x"], self.thr)
            probs += [f"day {day['n']}: {p}" for p in check.check_exact(
                self.grid, ref, day["issued"], day["detailed"],
                day["summary"])]
        latest = {d["issue"]: d for d in self.backfilled}
        for part in self.history.values() if latest else ():
            found = sorted(n for n in os.listdir(part)
                           if n.startswith("issued_on="))
            want = sorted(f"issued_on={d['issued']}" for d in latest.values())
            if found != want:
                probs.append(f"{part}: partitions {found} != {want}")
        for day in latest.values():
            ref = gen.reference(day["x"], self.thr)
            name = f"issued_on={day['issued']}"
            probs += [f"backfill {name}: {p}" for p in check.check_approx(
                self.grid, ref, day["x"], day["issued"],
                os.path.join(self.history["detailed"], name),
                os.path.join(self.history["summary"], name))]
        return probs, 0


def _two_dec(hundredths: int) -> str:
    return f"{hundredths // 100}.{hundredths % 100:02d}"


class ServeLookups(Workload):
    """One client, closed loop, over products published at set-up by the
    daily job's calls on a 5,000-cell grid.  One op is one request:

    - a point request, as the reference's serving example answers a query
      point (SURVEY.md section 3, `flood-api-examples.py:199-221`): the
      point's cell in the detailed product (`point_lookup`) and its 3x3
      neighbourhood in the summary (`neighborhood_lookup`), one after the
      other for the same coordinate;
    - a batch request: `batch_point_lookup` of 36 points on the summary.

    A round is 22 point requests at seeded coordinates, one point request
    on a fixed cell edge whose binary quotient floors into the wrong cell,
    and one batch request, in seeded order; the warm-up is a round with 12
    seeded point requests."""

    nlat, nlon, members = 50, 100, 3
    batch_points = 36

    def generate(self) -> None:
        g = self.grid = gen.Grid(self.nlat, self.nlon)
        self.edge = (_two_dec(self._bad_edge(g.lat_idx0, g.nlat)),
                     _two_dec(self._bad_edge(g.lon_idx0, g.nlon)))
        base, self.thr = gen.make_thresholds(g, self.rng)
        # the cells around the edge probe always carry a flood signal, so a
        # probe that resolves to the wrong cell never returns the same
        # (empty) answer as the right one
        self.x = gen.make_day(g, base, self.rng, members=self.members,
                              hot=near(g, self.edge))
        self.issued = gen.issue_date(0)
        gen.write_thresholds(g, self.thr, self.path("thresholds"))
        gen.write_raw_day(g, self.x, self.issued, self.path("raw"))
        self.log: list[tuple] = []

    @staticmethod
    def _bad_edge(idx0: int, n: int) -> int:
        """First interior cell edge, from the middle of the grid north/east,
        whose two-decimal value floors to the wrong index in binary
        floating point."""
        for k in range(n // 2, n):
            v = float(_two_dec(5 * (idx0 + k)))
            if math.floor(v / gen.RES) != idx0 + k:
                return 5 * (idx0 + k)
        raise ValueError("no misrounded edge on this grid")

    def warmup(self) -> None:
        spark = self.spark
        products = DailyForecastPipeline(accuracy_mode="exact").run(
            read_forecast(spark, self.path("raw")),
            read_thresholds(spark, self.path("thresholds")), run_checks=True)
        write_parquet(products.detailed, self.path("detailed"))
        write_parquet(products.summary, self.path("summary"))
        self.detailed = spark.read.parquet(self.path("detailed"))
        self.summary = spark.read.parquet(self.path("summary"))
        self.run_round(timed=False, requests=12)

    def _coord(self) -> tuple[str, str]:
        g = self.grid
        i, j = self.rng.integers(0, g.nlat), self.rng.integers(0, g.nlon)
        a, b = self.rng.integers(1, 5, 2)       # never on an edge
        return (_two_dec(5 * (g.lat_idx0 + i) + a),
                _two_dec(5 * (g.lon_idx0 + j) + b))

    def run_round(self, timed: bool = True, requests: int = 22) -> None:
        ops = ([("point", self._coord(), False) for _ in range(requests)]
               + [("point", self.edge, True), ("batch", None, False)])
        for k in self.rng.permutation(len(ops)):
            kind, coord, edge = ops[k]
            if kind == "batch":
                coord = set()
                while len(coord) < self.batch_points:
                    coord.add(self._coord())
                coord = sorted(coord)
                fn = lambda: self.lookup("batch", coord)
            else:
                fn = lambda: (self.lookup("point", coord),
                              self.lookup("neighbourhood", coord))
            rows = self.timed(kind, fn) if timed else fn()
            if timed:
                self.log.append((kind, coord, edge, rows))

    def lookup(self, kind: str, coord):
        tr = self.tracer
        with tr.span(f"operators.serving.{kind}_lookup") as span:
            start = time.perf_counter()
            if kind == "batch":
                pts = self.spark.createDataFrame(
                    [(float(a), float(b)) for a, b in coord],
                    "latitude double, longitude double")
                span["points_in_s"] = time.perf_counter() - start
            t = time.perf_counter()
            if kind == "point":
                df = point_lookup(self.detailed, float(coord[0]),
                                  float(coord[1]))
            elif kind == "neighbourhood":
                df = neighborhood_lookup(self.summary, float(coord[0]),
                                         float(coord[1]))
            else:
                df = batch_point_lookup(self.summary, pts)
            span["build_s"] = time.perf_counter() - t
            if tr.enabled:
                t = time.perf_counter()
                df._jdf.queryExecution().executedPlan()
                span["plan_s"] = time.perf_counter() - t
            t = time.perf_counter()
            rows = df.collect()
            span["execute_s"] = time.perf_counter() - t
            span["lookup_s"] = time.perf_counter() - start
            if tr.enabled:
                span["rows"] = len(rows)
                span["scan_rows"], span["scan_files"] = scan_metrics(df)
        return rows

    def check(self) -> tuple[list[str], int]:
        ref = gen.reference(self.x, self.thr)
        probs = check.check_exact(self.grid, ref, self.issued,
                                  self.path("detailed"), self.path("summary"))
        g = self.grid
        keep = ref["intensity"] != "G"
        present = set(zip(g.cell_lat[keep].tolist(),
                          g.cell_lon[keep].tolist()))
        failed = 0
        for kind, coord, edge, rows in self.log:
            if kind == "point":
                want = check.expected_cell(g, *coord)
                ok = (check.check_point(rows[0], want, present)
                      and check.check_neighbourhood(rows[1], want, present))
            else:
                ok = check.check_batch(
                    rows, {(float(a), float(b)): check.expected_cell(g, a, b)
                           for a, b in coord}, present)
            if not ok and edge:
                failed += 1
            elif not ok:
                probs.append(f"{kind} request at {coord}: wrong rows")
        return probs, failed


def near(grid: gen.Grid, coord) -> np.ndarray:
    """Cells within two cells of a decimal coordinate."""
    c = check.expected_cell(grid, *coord)
    return ((np.abs(grid.cell_lat - c[0]) < 2.5 * gen.RES)
            & (np.abs(grid.cell_lon - c[1]) < 2.5 * gen.RES))


def scan_metrics(df) -> tuple[int, int]:
    """Rows and files the parquet scans of an executed query read, from the
    scan nodes' SQL metrics in the final (adaptive) plan."""
    rows = files = 0
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        p = stack.pop()
        name = p.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(p.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            stack.append(p.plan())
            continue
        if name == "FileSourceScanExec":
            m = p.metrics()
            rows += m.apply("numOutputRows").value()
            files += m.apply("numFiles").value()
        children = p.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return rows, files


WORKLOADS = {"daily_cycle": DailyCycle, "serve_lookups": ServeLookups}
