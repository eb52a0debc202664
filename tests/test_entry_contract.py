"""Structural invariants of the driver contract (`__spark_entry__.py`).

No SparkSession needed — these lock the *shape* of the contract so a
refactor can't silently drop an oracle or bench a nonexistent query; the
value-level gate is `scripts/check_oracle.py` / the driver itself.
"""

import importlib.util
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def _load(name, path):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[name] = mod
    spec.loader.exec_module(mod)
    return mod


entry = _load("entry_contract_mod", REPO / "__spark_entry__.py")
bench = _load("bench_mod", REPO / "bench.py")

# the only queries allowed to lack a DuckDB oracle: hash-sketch / ANN
# operators whose output literally cannot be recomputed in ANSI SQL ...
ROWS_ONLY = {
    "q_minhash_lsh",
    "q_simhash_dups",
    "q_lsh_topk",
    "q_ivf_topk",
    "q_embedding_dedup_lsh",
    "q_semantic_dedup",
}
# ... and each must carry an oracle-checked contract twin asserting
# recall/precision/completeness against the exact ground truth
CONTRACT_TWIN = {
    "q_minhash_lsh": "q_minhash_recall",
    "q_simhash_dups": "q_simhash_contract",
    "q_lsh_topk": "q_lsh_topk_recall",
    "q_ivf_topk": "q_ivf_recall",
    "q_embedding_dedup_lsh": "q_embedding_dedup_lsh_recall",
    "q_semantic_dedup": "q_semantic_dedup_contract",
}


def test_every_query_has_oracle_or_is_known_rows_only():
    qs, oracles = entry.queries(), entry.oracle_sql()
    assert set(qs) - set(oracles) == ROWS_ONLY


def test_no_orphan_oracles():
    qs, oracles = entry.queries(), entry.oracle_sql()
    assert set(oracles) <= set(qs)


def test_rows_only_queries_have_contract_twins():
    qs, oracles = entry.queries(), entry.oracle_sql()
    for rows_only, twin in CONTRACT_TWIN.items():
        assert rows_only in qs
        assert twin in qs, f"{rows_only} lost its contract twin {twin}"
        assert twin in oracles, f"contract twin {twin} must be oracle-checked"


def test_contract_oracles_assert_true_booleans():
    oracles = entry.oracle_sql()
    for twin in CONTRACT_TWIN.values():
        assert "TRUE AS" in oracles[twin], (
            f"{twin} oracle should assert contract booleans TRUE")


def test_bench_queries_exist():
    qs = entry.queries()
    special = {"q_ivf_build", "q_ivf_probe"}  # bench-local composites
    for name in bench.BENCH_QUERIES:
        assert name in qs or name in special or name in bench.EXTRA_QUERIES, (
            f"bench references unknown query {name}")


def test_stress_and_skew_entries_resolve():
    # the --stress and --skew modes resolve their whole sets by name,
    # and every name resolves on its own, as --only passes it
    for mode in ("stress", "skew"):
        entries = bench.resolve(mode)
        assert entries, f"--{mode} has no entries"
        for name, fn in entries.items():
            assert callable(fn), f"--{mode} entry {name} is not callable"
            assert bench.resolve(mode, [name]) == {name: fn}
    stress = bench.resolve("stress")
    import bench_stress
    for entry, base, _factor in bench_stress.LINEAR_BASES:
        assert entry in stress, f"linear base names unknown entry {entry}"
        assert base in stress or base in bench.BENCH_QUERIES, base


def test_contract_twins_not_in_bench():
    # contract queries compute O(n^2)/exact ground truth on purpose —
    # benching them would reintroduce the noisy exact path as a headline
    for twin in CONTRACT_TWIN.values():
        assert twin not in bench.BENCH_QUERIES


def test_simhash_contract_row_cap(spark, monkeypatch):
    """The contract's brute-force truth side is quadratic by design; it must
    refuse corpus-scale inputs instead of running them."""
    import pytest

    monkeypatch.setattr(entry, "_SIMHASH_CONTRACT_MAX_ROWS", 10)
    with pytest.raises(ValueError, match="quadratic"):
        entry.q_simhash_contract(spark, "/root/testdata/sf0.001")


def test_equidepth_buckets_monotone_and_balanced(spark, tmp_path):
    """q_equidepth semantics on a controlled table: ntile(10) splits 20
    rows into 10 buckets of 2, with non-overlapping monotone ranges."""
    import os

    import pandas as pd

    import __spark_entry__ as entry_mod

    sf = str(tmp_path)
    pd.DataFrame({
        "l_orderkey": range(20), "l_linenumber": [1] * 20,
        "l_extendedprice": [float(100 + 7 * i) for i in range(20)],
    }).to_parquet(os.path.join(sf, "lineitem.parquet"))
    out = sorted(entry_mod.q_equidepth(spark, sf).collect(),
                 key=lambda r: r.decile)
    assert [r.decile for r in out] == list(range(1, 11))
    assert all(r.n == 2 for r in out)
    for a, b in zip(out, out[1:]):
        assert a.hi <= b.lo            # non-overlapping, ordered ranges
