"""Smoke test of the benchmark itself, at the tiny input size.

    python3 perfbench/smoke_test.py

Run from the root of a checkout; takes a few minutes. It checks that:

- the seeded generator gives byte-identical inputs for one seed and
  different inputs for another;
- every workload's untraced run prints every end-to-end metric that
  BENCHMARK.json names, with its unit, and passes its output checks;
- a traced run prints every per-layer metric BENCHMARK.json names, and
  a planted wrong oracle digest makes the output check fail.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402


def bench(*args: str) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--sizes", "tiny",
         "--seconds", "1", *args],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    )
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check_units(result: dict, declared: list[dict]) -> None:
    metrics = result["metrics"]
    assert set(metrics) == {m["name"] for m in declared}, sorted(
        set(metrics) ^ {m["name"] for m in declared})
    for m in declared:
        got = metrics[m["name"]]
        assert got["unit"] == m["unit"], (m["name"], got)
        assert isinstance(got["value"], (int, float)), (m["name"], got)


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    work = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(work, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=work) as tmp:
        digests = []
        for seed, sub in ((7, "a"), (7, "b"), (8, "c")):
            gen.generate("tiny", seed, os.path.join(tmp, sub))
            digests.append(gen.inputs_digest(os.path.join(tmp, sub)))
    assert digests[0] == digests[1] != digests[2], digests
    print("generator: same seed, same bytes")

    for w in spec["workloads"]:
        result = bench("--workload", w["name"], "--seed", "7", "--trace", "0")
        check_units(result, spec["end_to_end"])
        assert result["correct"] and result["failed"] == 0, result
        print(f"{w['name']}: end-to-end metrics and output checks pass")

    result = bench("--workload", "geo_reference", "--seed", "7", "--trace", "1",
                   "--plant-digest", "gridify_stats")
    check_units(result, spec["per_layer"])
    assert not result["correct"] and result["failed"] >= 1, result
    print("traced run: per-layer metrics print; planted digest fails the check")


if __name__ == "__main__":
    main()
