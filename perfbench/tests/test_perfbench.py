"""The benchmark's own tests: seeded inputs are reproducible, the output
checks behave, and a smoke run of each workload prints exactly the
metrics ``BENCHMARK.json`` names.

    python -m pytest perfbench/tests -q

The smoke runs start Spark (about a minute each on 4 cores).
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import check, gen
from perfbench.workloads import WORKLOADS, tail_percentile

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _files(d: str) -> list[str]:
    return sorted(os.listdir(d))


def test_corpus_inputs_repeat_for_a_seed(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    for d, seed in ((a, 3), (b, 3), (c, 4)):
        os.makedirs(d)
        gen.write_corpus(d, seed, n_docs=100, n_vecs=100)
    assert _files(a) == _files(b)
    match, mismatch, errors = filecmp.cmpfiles(a, b, _files(a), shallow=False)
    assert not mismatch and not errors
    assert not filecmp.cmp(f"{a}/documents.parquet", f"{c}/documents.parquet",
                           shallow=False)


def test_ingest_plan_repeats_for_a_seed(tmp_path):
    p, q = gen.ingest_plan(5, coins=20, days=2), gen.ingest_plan(5, coins=20, days=2)
    assert p.replays == q.replays and (p.prices == q.prices).all()
    assert p.payload(50) == q.payload(50)
    assert gen.ingest_plan(6, coins=20, days=2).replays != p.replays
    gen.write_history(p, str(tmp_path / "w1"))
    gen.write_history(q, str(tmp_path / "w2"))
    match, mismatch, errors = filecmp.cmpfiles(
        tmp_path / "w1", tmp_path / "w2", _files(tmp_path / "w1"), shallow=False)
    assert len(match) == 2 and not mismatch and not errors


def test_ingest_plan_has_one_replay_per_pass_of_a_loaded_hour():
    plan = gen.ingest_plan(9, coins=3, days=1, runs_per_pass=6, max_passes=20)
    assert len(plan.replays) == 120
    loaded = plan.history_hours
    for start in range(0, len(plan.replays), 6):
        block = plan.replays[start:start + 6]
        assert sum(h >= 0 for h in block) == 1
        for h in block:
            assert h < loaded
            loaded += h < 0
    assert (plan.prices > 0).all()


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    assert tail_percentile([1.0] * 10) == (0.0, 0.0)
    samples = [float(i) for i in range(40)]
    value, pct = tail_percentile(samples)
    assert pct == 75.0
    assert sum(s > value for s in samples) >= 10


class _Rows:
    """The slice of a Spark DataFrame compare_to_oracle reads."""

    def __init__(self, columns, rows):
        self.columns, self._rows = columns, rows

    def collect(self):
        return [dict(zip(self.columns, r)) for r in self._rows]


def test_oracle_compare_is_exact():
    import duckdb

    con = duckdb.connect()
    sql = "SELECT k, CAST(v AS DOUBLE) AS v FROM (VALUES ('a', 1.25), ('b', 2.5)) t(k, v)"
    assert check.compare_to_oracle(_Rows(["v", "k"], [(2.5, "b"), (1.25, "a")]),
                                   sql, con) is None
    problem = check.compare_to_oracle(_Rows(["k", "v"], [("a", 1.26), ("b", 2.5)]),
                                      sql, con)
    assert problem and "1.26" in problem
    problem = check.compare_to_oracle(_Rows(["k", "v"], [("a", 1.25)]), sql, con)
    assert problem and "rows" in problem
    problem = check.compare_to_oracle(_Rows(["k", "w"], [("a", 1.25)]), sql, con)
    assert problem and "columns" in problem


def test_spec_names_the_workloads_the_runner_has():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        SPEC["command"] + ["--workload", SPEC["workloads"][0]["name"], "--seed", "1",
                           "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_smoke_prints_the_specified_metrics(workload, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--size", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, proc.stderr[-2000:]
    assert result["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in spec]
    for m in spec:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
