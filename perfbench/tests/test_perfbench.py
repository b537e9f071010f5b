"""Tests of the benchmark harness itself.

Run from the repository root:  python3 -m pytest perfbench/tests -q

The checker tests need no Spark. The tiny runs start the real harness
(one Spark session per run) on a few hundred rows and take a few
minutes in all.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import duckdb
import numpy as np
import pandas as pd
import pytest

import checks
import run

ROOT = run.ROOT
TINY_SPEC = {
    "tier_cascade": {"default_seed": 1, "n_convs": 20, "mega_share": 0.05, "n_buckets": 4,
                     "warm_passes": 1, "idle_pass_s": 1.0},
    "query_mix": {
        "default_seed": 1,
        "n_events": 300,
        "n_users": 8,
        "warm_passes": 1,
        "idle_pass_s": 1.0,
        "queries": ["conv_features_ext", "hll_users_hour"],
        "rollup": {"query": "conv_features_ext", "kinds": ["text_len", "value"]},
        "kernel": {"name": "kernel_compress", "channels": ["text_len", "latency_s"], "block": "day"},
        "long_panel_queries": ["conv_features_ext", "kernel_compress"],
    },
}


def test_benchmark_json_names_what_the_harness_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    spec = run.load_spec()
    assert [w["name"] for w in bench["workloads"]] == list(spec)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.per_layer_units(spec)
    assert "setup_s" in run.END_TO_END
    with open(os.path.join(ROOT, "BENCHMARK.json"), "rb") as f:
        assert f.read().endswith(b"}\n")


def test_tree_cpu_counts_live_and_ended_child_processes():
    burn = (
        "import sys, time\n"
        "t = time.process_time()\n"
        "while time.process_time() - t < 0.5: pass\n"
        "print(flush=True)\n"
        "sys.stdin.read()\n"
    )
    before = run.tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", burn], stdin=subprocess.PIPE, stdout=subprocess.PIPE)
    child.stdout.readline()  # it has burnt its CPU and still runs
    assert run.tree_cpu_s() - before >= 0.45
    child.stdin.close()
    child.wait()
    assert run.tree_cpu_s() - before >= 0.45


# -- the checkers report corrupted results ----------------------------------


def test_oracle_check_reports_a_corrupted_answer():
    good = pd.DataFrame({"conv_id": ["a", "b"], "n": [1, 2], "x": [0.5, 1.25]})
    assert checks.oracle_problems("q", good.copy(), good) == []
    bad = good.copy()
    bad.loc[1, "x"] = 1.2500001
    assert checks.oracle_problems("q", bad, good)
    assert checks.oracle_problems("q", good.iloc[:1], good)


def test_roundtrip_check_reports_one_flipped_bit():
    rng = np.random.default_rng(0)
    pts = pd.DataFrame(
        {
            "conv_id": ["c"] * 50,
            "kind": ["text_len"] * 50,
            "ts": np.arange(50, dtype=np.int64) * 1_000_000,
            "value": rng.random(50),
        }
    )
    decoded = pts.sample(frac=1.0, random_state=1)  # order does not matter
    decoded = decoded.assign(ts=pd.to_datetime(decoded["ts"], unit="us"))
    assert checks.roundtrip_problems(pts, decoded) == []
    bits = decoded["value"].to_numpy().view(np.int64).copy()
    bits[7] ^= 1
    assert checks.roundtrip_problems(pts, decoded.assign(value=bits.view(np.float64)))


def _write_turns(path: str) -> None:
    os.makedirs(path)
    us0 = 1_704_067_200_000_000
    rows = []
    for c in range(3):
        for i in range(40):
            rows.append(
                (f"conv-{c:06d}", i, ["user", "assistant", "tool"][i % 3], "x" * (i % 7 + 1),
                 "calc" if i % 3 == 2 else None, us0 + c * 7_000_000 + i * 61_000_000 + i * i)
            )
    df = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "us"])
    df["ts"] = pd.to_datetime(df.pop("us"), unit="us")
    df.to_parquet(os.path.join(path, "part-0.parquet"))


def _write_tier(con, out_root: str, tier: str) -> str:
    d = os.path.join(out_root, f"rollup_{tier}", "bucket_id=0")
    os.makedirs(d)
    f = os.path.join(d, "part-0.parquet")
    con.execute(
        f"""COPY (SELECT conv_id, kind, make_timestamp(b) AS bucket_start, n AS turn_count,
                s AS sum_values, s2 AS sum_squares, mn AS minimum, mx AS maximum,
                s / n AS mean, s2 / n - (s / n) * (s / n) AS variance
            FROM exp_{tier}) TO '{f}' (FORMAT parquet)"""
    )
    return f


def test_tier_check_reports_a_corrupted_sum(tmp_path):
    tiers = {"minute": 60_000_000, "hour": 3_600_000_000}
    turns = str(tmp_path / "turns")
    _write_turns(turns)
    con = duckdb.connect()
    rows = checks.expected_tiers(con, turns, tiers)
    assert rows["minute"] > rows["hour"] > 0
    out = str(tmp_path / "tiers")
    files = {t: _write_tier(con, out, t) for t in tiers}
    assert checks.tier_problems(con, out, tiers) == []

    df = pd.read_parquet(files["hour"])
    df.loc[3, "sum_values"] *= 1 + 1e-9
    df.to_parquet(files["hour"])
    problems = checks.tier_problems(con, out, tiers)
    assert len(problems) == 1 and problems[0].startswith("hour: 1 rows differ")

    df = pd.read_parquet(files["minute"]).iloc[1:]
    df.to_parquet(files["minute"])
    assert len(checks.tier_problems(con, out, tiers)) == 2


# -- the command itself ------------------------------------------------------


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(run.HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "tier_cascade", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert p.stdout == ""


@pytest.fixture(scope="module")
def tiny_checkout(tmp_path_factory):
    """A copy of the engine and the benchmark whose spec.json is tiny."""
    root = tmp_path_factory.mktemp("checkout")
    skip = shutil.ignore_patterns("__pycache__")
    for d in ("ts_raster_spark", "tools", "perfbench"):
        shutil.copytree(os.path.join(ROOT, d), root / d, ignore=skip)
    shutil.copy(os.path.join(ROOT, "__spark_entry__.py"), root)
    (root / "perfbench" / "spec.json").write_text(json.dumps(TINY_SPEC))
    return root


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(TINY_SPEC))
def test_tiny_run_prints_every_metric(tiny_checkout, workload, trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "0", "--trace", str(trace)],
        cwd=tiny_checkout, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = run.per_layer_units(TINY_SPEC) if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    detail = json.loads(lines[-2])
    assert detail["samples"]["ops"] >= 1
    assert set(detail["canary"]) == {"start", "end"}
