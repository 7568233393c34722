"""Benchmark launcher: build, run one workload, check outputs, report.

    python3 perfbench/run.py --workload medallion --seed 1 --seconds 20 --trace 0

Builds the program and the benchmark from source (see build.py), starts one
JVM for the workload on a fresh root under perfbench/.runs, checks the
program's outputs, deletes the root and prints, as the last line of standard
output, one JSON object with the keys correct, attempted, failed and metrics.
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 its per-layer metrics. The JSON-lines trace of a traced run is left
in perfbench/.out. Exits non-zero, without a result line, if the build, the
run or the report fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import checks  # noqa: E402

REPO = os.path.dirname(HERE)
WORKLOADS = ("medallion", "corpus_serve")
RUN_LIMIT_S = 170

# JDK 17 module openings Spark needs outside spark-submit (same list as
# the repo's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spec():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(args, root, result, trace_out, limit_s):
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    n = str(cpus())
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": n,
        "SPARK_GRAFT_INDEX_ROOT": os.path.join(root, "index"),
        "SPARK_LOCAL_DIRS": os.path.join(root, "spark-local"),
    })
    cmd = ["java", "-Xmx3g", "-Xss4m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--root", root, "--cpus", n, "--out", result, "--trace-out", trace_out]
    log = open(os.path.join(root, "jvm.log"), "w")
    p = subprocess.Popen(cmd, cwd=root, env=env, stdout=log, stderr=subprocess.STDOUT)
    try:
        p.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        print(f"perfbench: JVM exceeded {limit_s:.0f} s and was stopped", file=sys.stderr)
    finally:
        # also on SIGTERM (raised as SystemExit below): never leave the JVM behind
        if p.poll() is None:
            p.kill()
            p.wait()
        log.close()
    return p.returncode


def main():
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.monotonic()

    bench = spec()
    names = [m["name"] for m in bench["per_layer" if args.trace else "end_to_end"]]
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    build.build()

    runs = os.path.join(HERE, ".runs")
    root = os.path.join(runs, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    out_dir = os.path.join(HERE, ".out")
    os.makedirs(out_dir, exist_ok=True)
    trace_out = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.jsonl")
    result_path = os.path.join(root, "result.json")
    try:
        limit = RUN_LIMIT_S - (time.monotonic() - t_start)
        code = run_jvm(args, root, result_path, trace_out, limit)
        if code != 0 or not os.path.exists(result_path):
            sys.stderr.write(open(os.path.join(root, "jvm.log")).read()[-4000:])
            print(f"perfbench: JVM exited with {code}", file=sys.stderr)
            return 1
        res = json.load(open(result_path))
        if res.get("status") != "ok":
            sys.stderr.write(open(os.path.join(root, "jvm.log")).read()[-4000:])
            print(f"perfbench: run failed: {res.get('status')}", file=sys.stderr)
            return 1
        attempted, failed = res["attempted"], res["failed"]
        notes = list(res.get("notes", []))
        if args.workload == "medallion":
            a, f, n = checks.medallion(res["extra"])
            attempted, failed, notes = attempted + a, failed + f, notes + n
        for n in notes:
            print(f"perfbench: check failed: {n}", file=sys.stderr)
        source = res["layer"] if args.trace else res["e2e"]
        metrics = {}
        for name in names:
            # a per-layer metric of a layer or call the workload never
            # reaches is 0; an end-to-end metric must be measured
            v = source.get(name, 0.0 if args.trace else None)
            if v is None:
                print(f"perfbench: metric {name} not measured", file=sys.stderr)
                return 1
            metrics[name] = {"value": v, "unit": units[name]}
        print(json.dumps({"workload": args.workload, "seed": args.seed,
                          "extra": {k: v for k, v in res["extra"].items()
                                    if not isinstance(v, list)}}))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(root, ignore_errors=True)
        if os.path.isdir(runs) and not os.listdir(runs):
            os.rmdir(runs)


if __name__ == "__main__":
    sys.exit(main())
