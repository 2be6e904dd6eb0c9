#!/usr/bin/env python3
"""Self-test of the benchmark harness.

Runs each workload once, briefly, through ``run.py`` (``query_floor`` on a
sf0.001 corpus) with tracing off and on, and checks that:

- every metric ``BENCHMARK.json`` names is printed, with its unit, as a
  number, and the end-to-end ones are positive;
- a correct run reports ``correct: true`` and no failures;
- a planted wrong result (one row dropped from one query's result before
  the check) is counted: ``failed`` > 0, ``correct: false``, and the
  traced run's ``fail_frac`` > 0.

Usage (from the repository root): python3 perfbench/selftest.py
Exit code 0 when every check holds.
"""
import json
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def run(*args) -> dict:
    r = subprocess.run([sys.executable, str(BENCH / "run.py"), *args],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    if r.returncode != 0:
        raise AssertionError(f"run.py {' '.join(args)} exited {r.returncode}:\n{r.stderr[-3000:]}")
    return json.loads(r.stdout.strip().splitlines()[-1])


def check_metrics(res: dict, spec: list, positive: bool, what: str) -> None:
    got = res["metrics"]
    assert set(got) == {m["name"] for m in spec}, f"{what}: metric names {sorted(got)}"
    for m in spec:
        v = got[m["name"]]
        assert v["unit"] == m["unit"], f"{what}: {m['name']} unit {v['unit']}"
        assert isinstance(v["value"], (int, float)), f"{what}: {m['name']} = {v['value']!r}"
        if positive:
            assert v["value"] > 0, f"{what}: {m['name']} = {v['value']}"


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    planted = next(ln.strip() for ln in (BENCH / "queries_floor.txt").read_text().splitlines()
                   if ln.strip() and not ln.startswith("#"))
    base = ["--seed", "7", "--seconds", "1"]
    cases = [
        ("topic_log untraced", ["--workload", "topic_log", *base, "--trace", "0"], False),
        ("topic_log traced", ["--workload", "topic_log", *base, "--trace", "1"], False),
        ("query_floor untraced", ["--workload", "query_floor", "--sf", "0.001", *base, "--trace", "0"], False),
        ("query_floor traced, planted", ["--workload", "query_floor", "--sf", "0.001", *base, "--trace", "1",
                                         "--plant-wrong", planted], True),
    ]
    failures = 0
    for what, args, plant in cases:
        try:
            res = run(*args)
            traced = args[args.index("--trace") + 1] == "1"
            check_metrics(res, spec["per_layer"] if traced else spec["end_to_end"], not traced, what)
            assert res["attempted"] >= 1, f"{what}: attempted {res['attempted']}"
            if plant:
                assert res["failed"] > 0 and res["correct"] is False, f"{what}: planted error not counted"
                assert res["metrics"]["fail_frac"]["value"] > 0, f"{what}: fail_frac not raised"
            else:
                assert res["failed"] == 0 and res["correct"] is True, f"{what}: {res['failed']} failures"
            print(f"ok   {what}")
        except AssertionError as e:
            failures += 1
            print(f"FAIL {what}: {e}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
