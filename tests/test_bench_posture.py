"""The bench harness sizes its Spark session from the box it runs on:
the JVM heap is half the memory it is given, leaving the rest for the
Python workers, and no scratch goes to a tmpfs that takes from that
memory.  Its last stdout line stays parseable from a clipped tail.  No
SparkSession needed."""

import importlib.util
import json
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
_spec = importlib.util.spec_from_file_location("bench_posture_mod",
                                               REPO / "bench.py")
bench = importlib.util.module_from_spec(_spec)
sys.modules["bench_posture_mod"] = bench
_spec.loader.exec_module(bench)


def _heap_bytes(conf):
    heap = conf["spark.driver.memory"]
    assert heap.endswith("m"), heap
    return int(heap[:-1]) << 20


@pytest.mark.parametrize("gib", [8, 15, 64])
def test_heap_fits_the_box(monkeypatch, gib):
    monkeypatch.delenv("SPARK_LOCAL_DIRS", raising=False)
    mem = gib << 30
    conf = bench.session_posture(mem)
    heap = _heap_bytes(conf)
    assert 0 < heap <= mem // 2, (gib, conf["spark.driver.memory"])
    for key, value in conf.items():
        assert "/dev/shm" not in value, (key, value)
        assert "-Xms" not in value, (key, value)
    assert conf["spark.local.dir"].startswith(bench.WORK)


def test_heap_grows_with_the_box():
    small, big = (_heap_bytes(bench.session_posture(g << 30))
                  for g in (8, 64))
    assert small < big


def test_shuffle_follows_spark_local_dirs(monkeypatch):
    monkeypatch.setenv("SPARK_LOCAL_DIRS", "/scratch/spark")
    assert bench.session_posture(15 << 30)["spark.local.dir"] \
        == "/scratch/spark"


def test_last_stdout_line_carries_every_entry():
    with open(REPO / "BENCH_LOCAL.json") as fh:
        payload = json.load(fh)
    payload["profile"] = {n: {"jobs": 1, "gc_ms": 0.0}
                          for n in payload["queries"]}
    *first, last = bench.stdout_lines(payload, str(REPO / "b.json"))
    assert len(last.encode()) <= bench.TAIL_BYTES
    tail = json.loads(last)
    assert tail["sec"] == list(payload["queries"].values())
    assert tail["n_entries"] == len(payload["queries"])
    assert tail["full"] == "b.json"
    assert "profile" not in tail
    # the full line keeps every payload key but the per-entry counters
    full = json.loads(first[0])
    del payload["profile"]
    assert full == payload


def test_short_payload_is_one_line():
    payload = {"metric": "skew_join", "queries": {"plain": 1.5},
               "linear": {}, "profile": {"plain": {"jobs": 2}}}
    (line,) = bench.stdout_lines(payload)
    assert json.loads(line) == {k: v for k, v in payload.items()
                                if k != "profile"}
