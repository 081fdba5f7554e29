#!/usr/bin/env python3
"""The benchmark's own tests, at tiny scale (a few minutes on 4 cores).

    python3 perfbench/smoke_test.py

Checks that BENCHMARK.json keeps its contract; that every workload, traced
and untraced, ends with one result line whose checks ran and passed and
which names every metric with its unit; and that a directory holding only
BENCHMARK.json and perfbench/ (no engine sources) fails without a result.
"""
import json
import pathlib
import re
import shutil
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def check_contract(bench):
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                          "per_layer"}, sorted(bench)
    assert 1 <= bench["run_seconds"] <= 60
    assert 2 <= len(bench["workloads"]) <= 8
    assert 1 <= len(bench["end_to_end"]) <= 16 and 1 <= len(bench["per_layer"]) <= 128
    names = [w["name"] for w in bench["workloads"]]
    names += [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(set(names)) == len(names), "a name is used twice"
    for w in bench["workloads"]:
        assert set(w) == {"name", "why"} and NAME.match(w["name"]) and len(w["why"]) <= 200
    for m in bench["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in bench["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"]), m
        assert m["better"] in ("lower", "higher")
    setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in bench["end_to_end"])


def run(workload, trace, cwd=ROOT):
    return subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                           "--seed", "7", "--seconds", "1", "--trace", trace, "--scale", "tiny"],
                          cwd=cwd, capture_output=True, text=True, timeout=900)


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    check_contract(bench)
    gated = {w["name"] for w in bench["workloads"]}
    failures = []
    for workload in json.loads((HERE / "workloads.json").read_text()):
        for trace in ("0", "1"):
            p = run(workload, trace)
            label = f"{workload} --trace {trace}"
            try:
                assert p.returncode == 0, f"exit {p.returncode}: {p.stderr[-1500:]}"
                res = json.loads(p.stdout.strip().splitlines()[-1])
                assert set(res) == {"correct", "attempted", "failed", "metrics"}, sorted(res)
                assert res["correct"] is True and res["failed"] == 0, res
                assert isinstance(res["attempted"], int) and res["attempted"] >= 1
                got = {k: v["unit"] for k, v in res["metrics"].items()}
                assert all(isinstance(v["value"], (int, float)) for v in res["metrics"].values())
                if workload in gated:
                    want = {m["name"]: m["unit"]
                            for m in bench["per_layer" if trace == "1" else "end_to_end"]}
                    assert got == want, f"metrics differ: {sorted(set(got) ^ set(want))}"
                else:
                    assert got and all(UNIT.match(u) for u in got.values()), got
                print(f"ok   {label}: {res['attempted']} units checked", flush=True)
            except (AssertionError, ValueError, IndexError) as e:
                failures.append(label)
                print(f"FAIL {label}: {e}", flush=True)

    bare = ROOT / ".bench_build" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(HERE, bare / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = run(bench["workloads"][0]["name"], "0", cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    if p.returncode != 0 and '"metrics"' not in p.stdout:
        print("ok   bare directory: fails without a result")
    else:
        failures.append("bare directory")
        print(f"FAIL bare directory: exit {p.returncode}, stdout {p.stdout[-300:]!r}")

    if failures:
        sys.exit(f"{len(failures)} failed: {', '.join(failures)}")
    print("all passed")


if __name__ == "__main__":
    main()
