"""Self-tests of the benchmark. Run from the checkout root:

    python3 -m pytest perfbench -q

The ``tiny`` tests start a Spark session each (about two minutes together);
the rest need only numpy, pyarrow and DuckDB.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import sparkstat  # noqa: E402
from oracle import FeatureSpec  # noqa: E402

LOOKBACK_S = 365 * 86400


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.fixture()
def tiny(tmp_path):
    data = gen.generate(str(tmp_path), 2000, 3, seed=7)
    return data, oracle.connect(str(tmp_path / "duck"))


def test_generator_is_deterministic_and_spread_over_a_year(tmp_path):
    a = gen.generate(str(tmp_path / "a"), 2000, 2, seed=3)
    b = gen.generate(str(tmp_path / "b"), 2000, 2, seed=3)
    for x, y in zip([a.labels, *a.features], [b.labels, *b.features]):
        assert pq.read_table(x).equals(pq.read_table(y))
    t = pq.read_table(a.features[0]).column("updated_at").to_numpy()
    span_days = (t.max() - t.min()) / gen.np.timedelta64(1, "D")
    assert span_days > 360


def _expected_file(con, data, specs, path, staleness_s=None):
    sql = oracle.expected_sql(data.labels, specs, LOOKBACK_S, staleness_s)
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")
    return path


def test_oracle_accepts_comparator_output_and_rejects_a_perturbed_one(tiny, tmp_path):
    data, con = tiny
    specs = [FeatureSpec(f"f{i}", p, "user_id", f"val_{i}") for i, p in enumerate(data.features)]
    good = _expected_file(con, data, specs, str(tmp_path / "good.parquet"))
    assert oracle.output_hash(con, good, specs) == oracle.expected_hash(
        con, data.labels, specs, LOOKBACK_S
    )
    assert oracle.leak_violations(con, good, specs, LOOKBACK_S) == 0

    table = pq.read_table(good)
    col = specs[1].column
    vals = table.column(col).to_pylist()
    row = next(i for i, v in enumerate(vals) if v is not None)
    vals[row] = vals[row] + 1e-9
    bad = str(tmp_path / "bad.parquet")
    pq.write_table(table.set_column(table.schema.get_field_index(col), col,
                                    oracle.pa.array(vals)), bad)
    assert oracle.output_hash(con, bad, specs) != oracle.output_hash(con, good, specs)
    assert oracle.leak_violations(con, bad, specs, LOOKBACK_S) == 1


def test_leak_check_rejects_a_value_from_inside_the_embargo(tiny, tmp_path):
    data, con = tiny
    plain = [FeatureSpec("f0", data.features[0], "user_id", "val_0")]
    embargoed = [FeatureSpec("f0", data.features[0], "user_id", "val_0", embargo_s=30 * 86400)]
    out = _expected_file(con, data, plain, str(tmp_path / "plain.parquet"))
    # The un-embargoed answer uses rows from the last 30 days: leaks under a
    # 30-day embargo.
    assert oracle.leak_violations(con, out, embargoed, LOOKBACK_S) > 0


def test_planted_leaks_are_counted_exactly(tiny, tmp_path):
    data, con = tiny
    specs = [FeatureSpec(f"f{i}", p, "user_id", f"val_{i}") for i, p in enumerate(data.features)]
    clean = pq.read_table(_expected_file(con, data, specs, str(tmp_path / "c.parquet")))
    cols = [s.column for s in specs[:2]]
    leaky, planted = oracle.plant_value_leaks(clean, cols, 5, seed=1)
    for c in cols:
        changed = sum(a != b for a, b in zip(clean.column(c).to_pylist(), leaky.column(c).to_pylist()))
        assert changed == planted[c] == 5
    times = oracle.time_table(con, data.labels, specs, LOOKBACK_S)
    ft = [f"{s.name}__feature_time" for s in specs]
    late, planted_t = oracle.plant_time_leaks(times, ft, 4, seed=1)
    lt = late.column("label_time").to_pylist()
    for c in ft:
        assert sum(t is not None and t >= l for t, l in zip(late.column(c).to_pylist(), lt)) == 4
        assert sum(t is not None and t >= l for t, l in zip(times.column(c).to_pylist(), lt)) == 0


def test_union_seconds_and_job_time_outside_the_span():
    assert sparkstat.union_seconds([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert sparkstat.union_seconds([(-1, 2), (9, 12)], 0, 10) == 3
    jobs = [
        {"submissionTime": 100_500, "completionTime": 101_000},
        {"submissionTime": 100_800, "completionTime": 101_500},
        {"submissionTime": 102_900, "completionTime": 104_000},  # ends after the op
    ]
    span = sparkstat.Span("build", 100.0, 103.0, jobs, [{"executorRunTime": 2000}])
    eng = span.engine(cores=4)
    assert eng["jobs_s"] == pytest.approx(1.1)
    assert eng["slot_busy_frac"] == pytest.approx(2.0 / (1.1 * 4))
    assert span.outside_s() == pytest.approx(1.0)
    jobs[2]["completionTime"] = 102_950
    assert span.outside_s() == pytest.approx(0.0)


def test_bare_directory_exits_nonzero_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in _bench()["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path,
                        ignore=shutil.ignore_patterns(".work", "__pycache__"))
    p = _run("--workload", "build_wide", "--seed", "1", "--seconds", "1", "--trace", "0",
             cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


@pytest.mark.parametrize(
    "workload,trace,key",
    [
        ("build_small", "0", "end_to_end"),
        ("build_small", "1", "per_layer"),
        ("audit_read", "0", "end_to_end"),
    ],
)
def test_tiny_run_prints_every_named_metric_with_its_unit(workload, trace, key):
    p = _run("--workload", workload, "--seed", "5", "--seconds", "1",
             "--trace", trace, "--shape", "tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in _bench()[key]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    for name, unit in want.items():
        assert any(line.split()[:1] == [name] and line.split()[-1] == unit for line in lines)
    if trace == "1":
        detail = json.loads(lines[-2])["record"]["detail"]
        # Every job of a traced call lies inside the call, up to the store's
        # millisecond clock, and every traced call but a build-cache hit ran
        # at least one job and stage.
        assert detail["trace_outside_s"] < 0.05
        assert all(v.endswith("/store_hit") for v in detail["trace_jobless"])
