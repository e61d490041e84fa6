"""Tests of the benchmark itself: the generator, the smoke mode, the
result line against BENCHMARK.json, the oracle gate and the refusal to run
outside a full checkout.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402


def _bench(*args: str, cwd: str = REPO, code: "str | None" = None) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "-c", code] if code else [sys.executable, "perfbench/run.py", *args]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


def _result(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


def _tables(root: str) -> dict:
    return {t: pq.read_table(os.path.join(root, f"{t}.parquet")) for t in gen.TABLES}


def test_generator_is_seeded_and_splits_scans(tmp_path):
    a = gen.generate(str(tmp_path / "a"), seed=5, reps=2, fraction=0.02)
    b = gen.generate(str(tmp_path / "b"), seed=5, reps=2, fraction=0.02)
    c = gen.generate(str(tmp_path / "c"), seed=6, reps=2, fraction=0.02)
    ta, tb, tc = _tables(a), _tables(b), _tables(c)
    for t in gen.TABLES:
        assert ta[t].equals(tb[t]), t
    assert not ta["lineitem"].equals(tc["lineitem"])
    assert not ta["documents"].equals(tc["documents"])
    # the key salt moves whole key blocks, so every foreign key still joins
    for child, key, parent, pkey in (
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
        ("orders", "o_custkey", "customer", "c_custkey"),
    ):
        assert pc.all(pc.is_in(ta[child][key], value_set=ta[parent][pkey])).as_py(), key
    # two replicas of the base, each with its own salted word prefix
    assert ta["lineitem"].num_rows == 2 * int(gen.BASE_ROWS["lineitem"] * 0.02)
    texts = ta["documents"].column("text").to_pylist()
    prefixes = {w.split("_")[0] for t in texts for w in t.split() if "_" in w}
    assert len(prefixes) == 1 and prefixes != {"r1"}
    # large tables: several files of several row groups each
    files = sorted(os.listdir(os.path.join(a, "lineitem.parquet")))
    assert len(files) == gen.FILES_PER_TABLE
    rg = pq.ParquetFile(os.path.join(a, "lineitem.parquet", files[0])).num_row_groups
    assert rg == gen.ROW_GROUPS_PER_FILE


def test_refuses_to_run_outside_a_checkout(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work"))
    proc = _bench("--workload", "udf_map", "--seed", "1", "--seconds", "1",
                  "--trace", "0", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_smoke_runs_every_workload_and_layer():
    proc = _bench("--smoke")
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
    res = _result(proc.stdout)
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] > 0
    for workload in ("relational", "udf_map", "llm_dedup"):
        assert f"## {workload}:" in proc.stdout
    for name in ("setup_s", "wall_s", "rows_per_s", "duckdb_ratio", "failed_ops",
                 *run.LAYER_UNITS):
        assert proc.stdout.count(f"\n{name} ") == 3, name


def test_result_line_carries_the_declared_metrics():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for trace, declared in (("0", "end_to_end"), ("1", "per_layer")):
        code = (
            "import sys; sys.path[:0] = ['perfbench', '.']\n"
            "import run\n"
            "run.BASE_FRACTION = 0.05\n"
            "sys.exit(run.main(['--workload', 'llm_dedup', '--seed', '0', "
            f"'--seconds', '0', '--trace', '{trace}']))\n"
        )
        proc = _bench(code=code)
        assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
        res = _result(proc.stdout)
        assert res["correct"] is True and res["failed"] == 0
        want = {m["name"]: m["unit"] for m in bench[declared]}
        assert {k: v["unit"] for k, v in res["metrics"].items()} == want
        assert all(v["value"] > 0 for k, v in res["metrics"].items()
                   if k in ("duckdb_ratio", "setup_s", "wall_s", "rows_per_s"))


def test_oracle_mismatch_fails_the_run():
    code = (
        "import sys; sys.path[:0] = ['perfbench', '.']\n"
        "import run\n"
        "from fugue_spark.benchmarks import QUERIES\n"
        "spec = QUERIES['q10_sql_passthrough_window']\n"
        "real = spec.spark_fn\n"
        "spec.spark_fn = lambda spark, d: real(spark, d).limit(1)\n"
        "run.BASE_FRACTION = 0.05\n"
        "sys.exit(run.main(['--workload', 'relational', '--seed', '0', '--seconds', '0']))\n"
    )
    proc = _bench(code=code)
    assert proc.returncode == 1, proc.stdout[-3000:] + proc.stderr[-3000:]
    res = _result(proc.stdout)
    assert res["correct"] is False and res["failed"] >= 1
