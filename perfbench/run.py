#!/usr/bin/env python3
"""graft benchmark: one workload, one run.

Usage (from the repository root):

    python3 perfbench/run.py --workload <topic_log|query_floor>
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine and harness if the checkout has no current build
(``build.py``), generates the workload's inputs from the seed, computes
the oracle results (outside the set-up time), runs the JVM harness (``graft.perfbench.Main``) and
prints one JSON line as the last line of standard output::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``,
``--trace 1`` its per-layer metrics. All scratch state (inputs, topics,
indexes, Spark local and warehouse directories, the JVM's
``java.io.tmpdir``) lives in one fresh directory under ``.bench_run``
that is deleted when the run ends.
"""
import argparse
import json
import random
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))

import build  # noqa: E402

ROOT = BENCH.parent
RUNS = ROOT / ".bench_run"
# the harness may take this long beyond the measured seconds (set-up,
# checks, shutdown)
JVM_SLACK_S = 150

WORKLOADS = {
    # name: (corpus scale factor, query list file or None)
    "topic_log": (None, None),
    "query_floor": (0.01, "queries_floor.txt"),
}


def heap_gb() -> int:
    """half the host's memory, clamped to 2..8 GiB (the tier-1 rule)"""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        return max(2, min(8, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return 2


def metric_spec():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def query_list(name: str, seed: int) -> list:
    names = [ln.strip() for ln in (BENCH / name).read_text().splitlines()
             if ln.strip() and not ln.startswith("#")]
    random.Random(seed).shuffle(names)
    return names


def run(args) -> dict:
    e2e, layers = metric_spec()
    classes = build.build()
    t0 = time.time()
    RUNS.mkdir(exist_ok=True)
    work = Path(tempfile.mkdtemp(prefix=f"{args.workload}-", dir=RUNS))
    proc = None
    oracle_s = 0.0

    def stop(signum, _frame):
        raise SystemExit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    try:
        (work / "tmp").mkdir()
        sf, qfile = WORKLOADS[args.workload]
        jvm_args = ["--workload", args.workload, "--seed", str(args.seed),
                    "--seconds", str(args.seconds), "--trace", str(args.trace),
                    "--work", str(work), "--out", str(work / "result.json")]
        if args.trace:
            # the spans outlive the run's scratch directory
            jvm_args += ["--spans", str(RUNS / f"spans-{args.workload}-{args.seed}.jsonl")]
        if qfile:
            import gen
            import oracle
            data = work / "data"
            gen.write(args.seed, args.sf or sf, data)
            names = query_list(qfile, args.seed)
            oracles = json.loads((classes / "oracles.json").read_text())
            # the expected results are check machinery, not graft's
            # set-up: their time is taken out of setup_s
            t_oracle = time.time()
            oracle.write(data, names, oracles, work / "expected.json")
            oracle_s = time.time() - t_oracle
            jvm_args += ["--data", str(data), "--expected", str(work / "expected.json"),
                         "--queries", ",".join(names)]
        if args.plant_wrong:
            jvm_args += ["--plant-wrong", args.plant_wrong]
        cmd = ["java", f"-Xmx{heap_gb()}g", "-Xss8m", *build.java_opts(),
               f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
               "-Dspark.sql.session.timeZone=UTC",
               "-cp", build.classpath(classes),
               "graft.perfbench.Main", *jvm_args]
        log = open(work / "jvm.log", "w")
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=args.seconds + JVM_SLACK_S)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
            log.close()
        if rc != 0 or not (work / "result.json").is_file():
            tail = (work / "jvm.log").read_text(errors="replace")[-4000:]
            raise RuntimeError(f"harness exited with {rc}:\n{tail}")
        res = json.loads((work / "result.json").read_text())
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    metrics = dict(res["metrics"])
    if args.trace:
        wanted = layers
        attempted = max(1, res["attempted"])
        metrics["fail_frac"] = res["failed"] / attempted
    else:
        wanted = e2e
        metrics["setup_s"] = (res["setup_end_ms"] - t0 * 1000) / 1000.0 - oracle_s
    out = {k: {"value": metrics.get(k, 0.0), "unit": u} for k, u in wanted.items()}
    for e in res["errors"]:
        print("error:", e)
    return {"correct": res["failed"] == 0, "attempted": res["attempted"],
            "failed": res["failed"], "metrics": out}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, help="override the workload's corpus scale")
    p.add_argument("--plant-wrong", help="drop one row of this query's result before it is checked")
    args = p.parse_args()
    try:
        result = run(args)
    except (build.BuildError, RuntimeError, OSError, KeyError, ValueError) as e:
        print(f"benchmark failed: {e}", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
