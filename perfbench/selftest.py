#!/usr/bin/env python3
"""Self-test of the benchmark at sf0.001.

    python3 perfbench/selftest.py

On a tiny generated input (its own directory under benchdata/perfbench/)
it records every workload's digests, runs
perfbench/run.py with --trace 0 and --trace 1 on each, and checks that

* the last line of every run parses as JSON with exactly the keys
  correct / attempted / failed / metrics;
* --trace 0 emits every end_to_end metric of BENCHMARK.json and --trace 1
  every per_layer metric, each with its unit and a numeric value;
* with the recorded digests no op fails;
* where the workload has the flagship op, the traced run's stage spans
  label the documents exactly as SparkEntry.flagshipLabels does;
* with one digest deliberately wrong (first workload only) exactly that
  op's checks fail and the run reports correct=false.

Exits 0 when every check holds, 1 otherwise.
"""
import json
import os
import subprocess
import sys

import gen_data
import run

SF = 0.001


def last_json(cmd: list) -> tuple:
    """The run's result line, and its summary line (the one before)."""
    out = subprocess.run(cmd, cwd=run.ROOT, capture_output=True, text=True,
                         timeout=200)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or len(lines) < 2:
        raise AssertionError(f"{cmd} exited {out.returncode}: {out.stderr[-800:]}")
    return json.loads(lines[-1]), json.loads(lines[-2])


def main() -> None:
    spec = run.load_spec()
    workloads = sorted(spec["workloads"])
    bench = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))
    run.build()
    data = os.path.join(run.DATA, "selftest")
    if not os.path.exists(os.path.join(data, "stats.json")):
        gen_data.generate(data, SF)
    problems = []

    def check(cond: bool, what: str) -> None:
        print(("ok   " if cond else "FAIL ") + what)
        if not cond:
            problems.append(what)

    for i, workload in enumerate(workloads):
        selftest(workload, spec, bench, data, check, wrong_digest=i == 0)
    sys.exit(1 if problems else 0)


def selftest(workload: str, spec: dict, bench: dict, data: str, check,
             wrong_digest: bool) -> None:
    out = os.path.join(run.DATA, "selftest-record", workload)
    work = os.path.join(run.DATA, "selftest-run")
    run.run_jvm(["--workload", workload, "--ops", run.ops_arg(run.op_dirs(spec, workload, data)),
                 "--seed", "0", "--seconds", "0", "--cores", str(run.cores()),
                 "--work", work, "--record", out], work)
    good = os.path.join(out, "digests.tsv")
    lines = open(good).read().splitlines()
    victim = lines[0].split("\t")[0]
    bad = os.path.join(out, "wrong.tsv")
    with open(bad, "w") as f:
        f.write("\n".join([f"{victim}\t000000000000000000000000"] + lines[1:]) + "\n")

    base = [sys.executable, os.path.join(run.HERE, "run.py"), "--workload", workload,
            "--seed", "7", "--seconds", "1", "--data", data]
    flagship = "m_flagship_shape" in spec["workloads"][workload]["ops"]

    for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
        r, summary = last_json(base + ["--trace", str(trace), "--digests", good])
        what = f"{workload} trace {trace}"
        check(set(r) == {"correct", "attempted", "failed", "metrics"},
              f"{what}: result keys")
        want = {m["name"]: m["unit"] for m in bench[kind]}
        got = r["metrics"]
        check(set(got) == set(want), f"{what}: every {kind} metric emitted")
        check(all(got[n]["unit"] == u and isinstance(got[n]["value"], (int, float))
                  for n, u in want.items() if n in got),
              f"{what}: units and numeric values")
        check(r["correct"] and r["failed"] == 0 and r["attempted"] > 0,
              f"{what}: recorded digests pass ({r['failed']} failed)")
        if trace and flagship:
            check(summary.get("spans_match_flagshipLabels") is True,
                  f"{what}: span labels equal flagshipLabels' labels")

    if wrong_digest:
        r, _ = last_json(base + ["--trace", "0", "--digests", bad])
        check(not r["correct"] and r["failed"] == 1,
              f"wrong digest for {victim}: {r['failed']} failed ops, expected 1")


if __name__ == "__main__":
    main()
