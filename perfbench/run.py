#!/usr/bin/env python3
"""graft benchmark: one closed-loop run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the benchmark (graft's
sources plus the client in perfbench/src, with perfbench/build.sbt) and
generates the workload's input under benchdata/perfbench/; later runs reuse
both while the sources are unchanged. The client JVM is launched directly on
the compiled classes, so its standard output is exactly what it prints.

The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}
with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1) named in BENCHMARK.json. The lines before it are a readable
summary. Workload definitions and the rationale behind them live in
perfbench/workloads.json; recorded output digests in perfbench/digests/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen_data  # noqa: E402

CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
DATA = os.path.join(ROOT, "benchdata", "perfbench")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def load_spec() -> dict:
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


def source_hash() -> str:
    files = sorted(
        glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                  recursive=True)
        + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
        + [os.path.join(HERE, "build.sbt"),
           os.path.join(HERE, "project", "build.properties")])
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def spark_home() -> str:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("SPARK_HOME is unset and no spark-submit is on PATH", 1)
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return home


def build() -> None:
    """Compile with sbt unless the classes match the current sources."""
    want = source_hash()
    if os.path.exists(STAMP) and open(STAMP).read() == want:
        return
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(DATA, "build.log")
    os.makedirs(DATA, exist_ok=True)
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=850).returncode
    if rc != 0:
        fail(f"build failed (exit {rc}); see {os.path.relpath(log, ROOT)}", 1)
    with open(STAMP, "w") as f:
        f.write(want)


def dataset(spec: dict, name: str) -> str:
    d = spec["datasets"][name]
    out = os.path.join(DATA, name)
    if not os.path.exists(os.path.join(out, "stats.json")):
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(out + ".tmp", ignore_errors=True)
        gen_data.generate(out, d["sf"], d["copies"], d["data_seed"])
    return out


def op_dirs(spec: dict, workload: str, data: str = None) -> list:
    """(op, input directory) pairs; an op entry "name@dataset" overrides
    the workload's dataset, and `data` overrides both."""
    w = spec["workloads"][workload]
    pairs = []
    for entry in w["ops"]:
        op, _, ds = entry.partition("@")
        pairs.append((op, data or dataset(spec, ds or w["dataset"])))
    return pairs


def ops_arg(pairs: list) -> str:
    return ",".join(f"{op}@{d}" for op, d in pairs)


def cores() -> int:
    return min(load_spec()["cores"], os.cpu_count() or 1)


def digests_path(workload: str) -> str:
    return os.path.join(HERE, "digests", f"{workload}.tsv")


def java_cmd(args: list, work: str) -> list:
    jars = os.path.join(spark_home(), "jars", "*")
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    return (["java", "-cp", f"{CLASSES}:{jars}"] + opens + [
        # a fixed heap: no resizing inside the timed window; the parallel
        # collector runs no concurrent GC threads beside the timed ops
        "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC",
        # room for Spark's and graft's classes from the start: no full
        # collections for metaspace growth during set-up
        "-XX:MetaspaceSize=512m", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={work}/tmp",
        # no hsperfdata file outside the checkout
        "-XX:-UsePerfData",
        "perfbench.Main"] + args)


def run_jvm(args: list, work: str) -> dict:
    """Runs the client; returns its PERFBENCH_RESULT record."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    log = work + ".log"
    with open(log, "w") as err:
        proc = subprocess.Popen(java_cmd(args, work), cwd=ROOT, stdout=subprocess.PIPE,
                                stderr=err, stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"client timed out after {JVM_TIMEOUT_S}s; see {log}", 1)
    shutil.rmtree(work, ignore_errors=True)
    rec = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if proc.returncode != 0 or not rec:
        fail(f"client exited {proc.returncode} without a result; see {log}", 1)
    return json.loads(rec[-1].split(" ", 1)[1])


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """Highest percentile with at least 10 samples beyond it, or None."""
    n = len(xs)
    if n < 20:
        return None
    s = sorted(xs)
    pct = 1.0 - 10.0 / n
    return pct, s[int(pct * n) - 1], n


def pass_s(op_s: dict) -> float:
    """The median cost of one pass: every op at its median time."""
    return sum(median(ts) for ts in op_s.values())


def e2e_metrics(rec: dict) -> dict:
    return {
        "setup_s": rec["setup_s"],
        "wall_s": pass_s(rec["op_s"]),
        # the median op, each op at its median time: with few ops of very
        # different cost, the median of all samples would jump between ops
        "op_p50_s": median([median(ts) for ts in rec["op_s"].values()]),
    }


def layer_metrics(rec: dict, names: list, workload: str, spec: dict) -> dict:
    passes = rec["layers"]
    m = {n: median([p.get(n, 0.0) or 0.0 for p in passes]) for n in names}
    runs = median([p.get("plans.rule_runs", 0.0) for p in passes])
    eff = median([p.get("plans.rule_effective", 0.0) for p in passes])
    m["plans.rule_effective_ratio"] = eff / runs if runs else 0.0
    m["heap_peak_mb"] = rec["heap_peak_mb"]
    # traced and untraced passes alternate within one window
    untraced, traced = pass_s(rec["op_s"]), pass_s(rec["traced_op_s"])
    m["trace.overhead_frac"] = traced / untraced - 1.0 if untraced else 0.0
    spans = rec.get("spans") or {}
    for k, v in spans.items():
        m[k] = v
    # the flagshipLabels chain against the ops that run it; the TF-IDF
    # branch has its own span and no op of its own in the timed pass
    span_ops = spec["workloads"][workload].get("span_ops", [])
    covered = sum(median(rec["op_s"].get(op, [])) for op in span_ops)
    chain = sum(v for k, v in spans.items() if k != "ml.tfidf_lsa_kmeans_s")
    m["flagship.span_sum_s"] = sum(spans.values())
    m["flagship.span_frac"] = chain / covered if covered else 0.0
    return m


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--digests", help="digest file to check against "
                    "(default: the workload's recorded digests)")
    ap.add_argument("--data", help="input directory (default: the workload's "
                    "generated dataset)")
    a = ap.parse_args()

    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        fail("graft sources not found next to perfbench/ (run from a full checkout)")
    spec = load_spec()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if a.workload not in spec["workloads"]:
        fail(f"unknown workload {a.workload!r}; known: {sorted(spec['workloads'])}")

    build()
    n = cores()
    rec = run_jvm([
        "--workload", a.workload, "--ops", ops_arg(op_dirs(spec, a.workload, a.data)),
        "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--cores", str(n),
        "--digests", a.digests or digests_path(a.workload),
        "--work", os.path.join(DATA, a.workload)], os.path.join(DATA, a.workload))

    attempted, failed = rec["attempted"], rec["failed"]
    for f in rec["failures"]:
        print(f"FAILED {f['op']} ({f['phase']}): {f['error']}")
    ops = [t for ts in rec["op_s"].values() for t in ts]
    summary = {"workload": a.workload, "seed": a.seed, "cores": n,
               "failed_frac": failed / attempted if attempted else 1.0,
               "op_samples": len(ops), "heap_peak_mb": rec["heap_peak_mb"],
               "op_median_s": {op: round(median(ts), 4)
                               for op, ts in sorted(rec["op_s"].items())}}
    tl = tail(ops)
    if tl:
        summary["op_tail_s"] = {"value": tl[1], "percentile": round(100 * tl[0], 2),
                                "n": tl[2]}
    e2e = e2e_metrics(rec)
    summary.update(e2e)
    if rec.get("spans_match") is not None:
        summary["spans_match_flagshipLabels"] = rec["spans_match"]

    if a.trace:
        names = [m["name"] for m in bench["per_layer"]]
        layers = layer_metrics(rec, names, a.workload, spec)
        if layers["streaming.batches"]:
            summary["batch_p50_ms"] = layers["streaming.batch_p50_ms"]
        wanted = {m["name"]: m["unit"] for m in bench["per_layer"]}
        values = layers
    else:
        wanted = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        values = e2e
    print(json.dumps(summary, sort_keys=True))
    missing = [m for m in wanted if m not in values]
    if missing:
        fail(f"metrics not produced: {missing}", 1)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m: {"value": values[m], "unit": u} for m, u in wanted.items()},
    }))


if __name__ == "__main__":
    main()
