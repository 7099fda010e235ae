#!/usr/bin/env python3
"""Record the output digests a workload's runs are checked against.

    python3 perfbench/record.py <workload>

Builds the benchmark, generates the workload's input, and has the client
write every op's output as parquet (the graft.Verify layout) next to its
digest. tools/check_oracle.py, which compares each output with its DuckDB
twin from SparkEntry.oracleSql, then decides what is recorded in perfbench/digests/<workload>.tsv:

* ``twin``: the output matched its DuckDB twin;
* ``digest-only``: the op has no twin, or its twin timed out at this size
  (the op is listed as such in workloads.json).

An op whose twin disagrees, or whose digest differs between two runs of
the client, is not recorded and the script exits 1: such an op has no
trustworthy reference and does not belong in a workload.
"""
import json
import os
import subprocess
import sys

import run

OUT = os.path.join(run.DATA, "record")
CHECKER = os.path.join(run.ROOT, "tools", "check_oracle.py")


def record_once(workload: str, pairs: list, out: str) -> dict:
    run.run_jvm(["--workload", workload, "--ops", run.ops_arg(pairs),
                 "--seed", "0", "--seconds", "0", "--cores", str(run.cores()),
                 "--work", os.path.join(run.DATA, "run"), "--record", out],
                os.path.join(run.DATA, "run"))
    with open(os.path.join(out, "digests.tsv")) as f:
        return dict(line.rstrip("\n").split("\t", 1) for line in f if line.strip())


def main() -> None:
    workload = sys.argv[1]
    spec = run.load_spec()
    run.build()
    pairs = run.op_dirs(spec, workload)
    first, second, status = {}, {}, {}
    env = dict(os.environ, ORACLE_TIMEOUT_S=os.environ.get("ORACLE_TIMEOUT_S", "60"))
    # one client run per input directory, so each checker run sees one dataset
    for data in sorted({d for _, d in pairs}):
        group = [(op, d) for op, d in pairs if d == data]
        out = os.path.join(OUT, workload, os.path.basename(data))
        first.update(record_once(workload, group, out + "-a"))
        second.update(record_once(workload, group, out + "-b"))
        res = subprocess.run([sys.executable, CHECKER, out + "-a", data],
                             capture_output=True, text=True, env=env)
        for line in res.stdout.splitlines():
            word, _, rest = line.partition(" ")
            if word in ("PASS", "FAIL", "ROWS", "TIMEOUT"):
                status[rest.split(":", 1)[0]] = (word, line)
    ops = [op for op, _ in pairs]
    rows, bad = [], []
    for op in ops:
        word, line = status.get(op, ("FAIL", f"{op}: no checker verdict"))
        d1, d2 = first.get(op, "ERROR"), second.get(op, "ERROR")
        if d1.startswith("ERROR") or d1 != d2:
            bad.append(f"{op}: digest {d1} / {d2}")
        elif word == "PASS":
            rows.append(f"{op}\t{d1}\ttwin")
        elif word in ("ROWS", "TIMEOUT"):
            rows.append(f"{op}\t{d1}\tdigest-only")
        else:
            bad.append(line)
    for b in bad:
        print("NOT RECORDED", b)
    only = sorted(r.split("\t")[0] for r in rows if r.endswith("digest-only"))
    if only != sorted(spec["workloads"][workload].get("digest_only", [])):
        print(f"workloads.json digest_only for {workload} should be {only}")
    os.makedirs(os.path.join(run.HERE, "digests"), exist_ok=True)
    with open(run.digests_path(workload), "w") as f:
        f.write(f"# {workload}: op, output digest, reference "
                f"(twin = matched its DuckDB twin when recorded)\n")
        f.write("\n".join(rows) + "\n")
    print(json.dumps({"workload": workload, "recorded": len(rows), "rejected": len(bad)}))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
