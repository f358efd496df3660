"""Self-test of the benchmark.

    python3 perfbench/selftest.py

1. ``BENCHMARK.json`` names exactly the metrics the code reports.
2. A wrong lookup answer is counted as a failure (raises error_rate).
3. Smoke runs of every workload at sf0.001, traced and untraced, print
   every metric of ``BENCHMARK.json`` with its unit and no failure.
4. In a directory holding only ``BENCHMARK.json`` and the benchmark's
   own files, the command exits non-zero without printing a result.

Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def check_names(spec: dict) -> None:
    import workloads

    e2e = {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]}
    layer = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    assert e2e == workloads.E2E_UNITS, "end_to_end metrics differ from workloads.E2E_UNITS"
    assert layer == workloads.PER_LAYER, "per_layer metrics differ from workloads.PER_LAYER"
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)


def check_wrong_lookup_counts() -> None:
    from workloads import check_lookups

    expected = {0: {(1, "message"): False, (2, "purchase"): True}}
    lookups = [(0, 1, "message", False), (0, 2, "purchase", True), (0, 99, "message", True)]
    assert check_lookups(lookups, expected.__getitem__) == 0
    lookups[0] = (0, 1, "message", True)  # injected wrong answer
    assert check_lookups(lookups, expected.__getitem__) == 1


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", *args]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def check_smoke(spec: dict) -> None:
    for w in spec["workloads"]:
        for trace, metrics in (("0", spec["end_to_end"]), ("1", spec["per_layer"])):
            p = _run(ROOT, "--workload", w["name"], "--seed", "1", "--seconds", "2",
                     "--trace", trace, "--sf", "0.001")
            assert p.returncode == 0, f"{w['name']} trace={trace}: rc={p.returncode}\n{p.stderr[-3000:]}"
            out = json.loads(p.stdout.strip().splitlines()[-1])
            assert set(out) == {"correct", "attempted", "failed", "metrics"}, out.keys()
            assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, out
            for m in metrics:
                got = out["metrics"].get(m["name"])
                assert got is not None, f"{w['name']}: {m['name']} not printed"
                assert got["unit"] == m["unit"], f"{m['name']}: unit {got['unit']}"
                assert isinstance(got["value"], float)
            print(f"ok  smoke {w['name']} trace={trace}", flush=True)


def check_bare_directory(spec: dict) -> None:
    bare = os.path.join(ROOT, ".perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    try:
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in spec["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        w = spec["workloads"][0]["name"]
        p = _run(bare, "--workload", w, "--seed", "1", "--seconds", "1", "--trace", "0")
        assert p.returncode != 0, "bare directory run exited 0"
        assert '"metrics"' not in p.stdout, "bare directory run printed a result"
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(bare))
        except OSError:
            pass


def main() -> int:
    sys.path.insert(0, HERE)
    spec = _spec()
    check_names(spec)
    print("ok  BENCHMARK.json matches the reported metrics", flush=True)
    check_wrong_lookup_counts()
    print("ok  a wrong lookup answer counts as a failure", flush=True)
    check_bare_directory(spec)
    print("ok  bare directory exits non-zero without a result", flush=True)
    check_smoke(spec)
    return 0


if __name__ == "__main__":
    sys.exit(main())
