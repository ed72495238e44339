"""Benchmark runner: one workload, one seed, one run.

    python3 perfbench/run.py --workload <ingest|cdc|dedup|graph> --seed <n>
                             --seconds <s> --trace <0|1>

Run from the repository root. It builds the engine from source (perfbench/
build.py), generates the workload's inputs from the sf0.1 test tables and the
seed (perfbench/gen.py), runs one benchmark JVM on local[nproc] that sets up,
then issues operations in a closed loop for --seconds, checks every
operation's output against an independent DuckDB reference
(perfbench/check.py), and prints as its last line one JSON object with the
end-to-end metrics (--trace 0) or the per-layer metrics of a traced rerun of
the same operations (--trace 1).
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

# the sf0.1 test tables listed in TESTDATA.md; SPARK_GRAFT_SF_DIR overrides,
# with the same default as graft.Bench
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# a fixed heap, so peak RSS follows the workload rather than heap resizing
HEAP = "2g"
# input generation is repeated and its median taken; the repeats must be
# byte-identical, which also checks that the seed alone fixes the inputs
GEN_REPEATS = 3
JVM_TIMEOUT_S = 140

# what build.sbt's forked run passes to the JVM
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def tree_digest(path):
    h = hashlib.sha256()
    for base, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(base, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def generate(workload, seed, work):
    times, digests = [], []
    for r in range(GEN_REPEATS):
        d = os.path.join(work, f"input-{r}")
        t0 = time.monotonic()
        props = gen.generate(workload, SF_DIR, d, seed)
        times.append(time.monotonic() - t0)
        digests.append(tree_digest(d))
        if r:
            shutil.rmtree(d)
    if len(set(digests)) != 1:
        raise SystemExit("perfbench: input generation is not deterministic")
    return os.path.join(work, "input-0"), props, statistics.median(times)


def run_jvm(classes, workload, inp, out, seconds, trace, cores):
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
              "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
              "-cp", classes + os.pathsep + build.spark_jars(),
              "graft.perfbench.Main", "--workload", workload, "--input", inp,
              "--out", out, "--seconds", str(seconds), "--trace", str(trace),
              "--cores", str(cores)])
    launch = time.time()
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("perfbench: benchmark JVM timed out")
    if code != 0:
        raise SystemExit(f"perfbench: benchmark JVM exited with {code}")
    with open(os.path.join(out, "result.json")) as f:
        return launch, json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes = build.build(root, build_dir)
    cores = len(os.sched_getaffinity(0))

    work = os.path.join(build_dir, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inp, props, gen_s = generate(a.workload, a.seed, work)
        out = os.path.join(work, "out")
        os.makedirs(out)
        launch, res = run_jvm(classes, a.workload, inp, out, a.seconds, a.trace, cores)
        ops = res["ops"] + res.get("traced_ops", [])
        failed = set(check.check(a.workload, inp, out, ops))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(ops)
    good = [o for i, o in enumerate(res["ops"]) if i not in failed]
    if not good:
        raise SystemExit(f"perfbench: none of {attempted} operations succeeded")
    if a.trace:
        layers = res["layers"]
        names = [m["name"] for m in spec["per_layer"]]
        metrics = {n: {"value": float(layers.get(n, 0.0)),
                       "unit": next(m["unit"] for m in spec["per_layer"] if m["name"] == n)}
                   for n in names}
    else:
        batch = [o["batch_s"] for o in good]
        read = [o["read_s"] for o in good]
        print(f"perfbench: {a.workload} seed={a.seed} cores={cores} units={res['units']} "
              f"ops={attempted} failed={len(failed)}; inputs {json.dumps(props)}; "
              f"batch_s {[round(x, 3) for x in batch]}; read_s {[round(x, 3) for x in read]}",
              file=sys.stderr)
        values = {
            "setup_s": gen_s + (res["ready_ms"] / 1000.0 - launch),
            "rows_per_s": res["rows"] / res["wall_s"],
            "batch_p50_s": statistics.median(batch),
            "read_p50_s": statistics.median(read),
            "write_amp": res["wchar"] / res["in_bytes"],
            "peak_rss_mb": res["vm_hwm_kb"] / 1024.0,
        }
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    for n, m in metrics.items():
        print(f"{n} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": not failed, "attempted": attempted,
                      "failed": len(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
