"""Self-tests of the benchmark: seeded inputs, the answer checks, and the
result line's contract with BENCHMARK.json.

    python3 -m pytest perfbench/tests -q

The contract tests start three short benchmark runs (about two minutes).
"""

import hashlib
import json
import os
import subprocess
import sys

import pytest

import gen
import workloads
from oracle import Oracle, same_rows

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _csv_digest(tmp_path, seed: int, name: str) -> str:
    path = tmp_path / name
    gen.write_raw_csv(gen.raw_movies(seed, 3000), str(path))
    return hashlib.sha256(path.read_bytes()).hexdigest()


def test_generator_is_byte_identical_per_seed(tmp_path):
    assert _csv_digest(tmp_path, 7, "a.csv") == _csv_digest(tmp_path, 7, "b.csv")
    assert _csv_digest(tmp_path, 7, "a.csv") != _csv_digest(tmp_path, 8, "c.csv")
    ids = gen.append_ids(3, 100)
    assert gen.facts_rows(7, 4, ids).equals(gen.facts_rows(7, 4, ids))
    assert gen.lookup_keys(7, 3, 100, 1000, 10, 0.3) == gen.lookup_keys(
        7, 3, 100, 1000, 10, 0.3)
    kinds = workloads.QUERY_KINDS
    assert gen.query_stream(7, kinds, 5) == gen.query_stream(7, kinds, 5)


def test_id_ranges_are_disjoint():
    base = set(gen.snapshot_base_ids(1000).tolist())
    batches = set(gen.append_ids(0, 100).tolist()) | set(gen.append_ids(1, 100).tolist())
    assert not base & batches and len(batches) == 200
    for key, present in gen.lookup_keys(3, 1, 100, 1000, 200, 0.3):
        assert (key in base or key in batches) == present


@pytest.fixture(scope="module")
def oracle(tmp_path_factory):
    path = tmp_path_factory.mktemp("raw") / "raw.csv"
    gen.write_raw_csv(gen.raw_movies(11, 3000), str(path))
    o = Oracle(str(path), threads=1)
    yield o
    o.close()


def test_summary_check_rejects_perturbed_expectation(oracle):
    want = oracle.summary()
    assert want and same_rows(list(want), want)
    name, avg, count = want[0]
    assert not same_rows([(name, avg * (1 + 1e-6), count)] + want[1:], want)
    assert not same_rows([(name, avg, count + 1)] + want[1:], want)
    assert not same_rows(want[:-1], want)


def test_dashboard_check_rejects_perturbed_expectation(oracle):
    for kind in workloads.QUERY_KINDS:
        want = oracle.dashboard(kind, 30 if kind == "bq5_runtime_rating" else 2000)
        assert want, kind
        bad = [tuple(r) for r in want]
        row = list(bad[0])
        row[-1] = row[-1] + 1 if isinstance(row[-1], int) else row[-1] * 1.001
        bad[0] = tuple(row)
        assert same_rows(want, want) and not same_rows(bad, want), kind


def test_lookup_check_rejects_wrong_or_missing_row():
    w = workloads.FactsUpsertLookup()
    w.base = gen.facts_rows(5, 0, gen.snapshot_base_ids(10))
    w.batches = {0: gen.facts_rows(5, 1, gen.append_ids(0, workloads.BATCH_ROWS))}
    for key in (gen.SNAP_BASE_ID + 4, gen.APPEND_ID + 2 * 17):
        row = w._expected(key)
        assert row[0] == key
        assert w._lookup_ok(key, True, [row])
        assert not w._lookup_ok(key, True, [])
        assert not w._lookup_ok(key, True, [row, row])
        assert not w._lookup_ok(key, True, [row[:8] + (row[8] + 1.0,) + row[9:]])
    assert w._lookup_ok(gen.APPEND_ID + 1, False, [])
    assert not w._lookup_ok(gen.APPEND_ID + 1, False, [w._expected(gen.APPEND_ID)])


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed",
         "3", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload,trace", [
    ("kpi_refresh", 1), ("kpi_dashboard", 0), ("facts_upsert_lookup", 1)])
def test_result_line_matches_benchmark_json(workload, trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    out = _run(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(isinstance(v["value"], float) for v in out["metrics"].values())
