"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine and harness if needed
(`build.py`), generates the workload's inputs from the seed, runs the
harness JVM (`perfbench.Harness`), and prints one JSON object as the last
stdout line: `correct`, `attempted`, `failed` and `metrics`. With
`--trace 0` the metrics are the end-to-end ones; with `--trace 1` the
per-layer ones, and the full traced profile is written to
`.bench_build/perfbench/trace-<workload>-<seed>.json`.

Workloads: osm_region, register_floor (see README.md).
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen_osm  # noqa: E402
import gen_tables  # noqa: E402

WORKLOADS = ("osm_region", "register_floor")
# Register data: fixed seed, scale factor and document count, so each
# query's result hash is pinned in pins.txt. The run seed orders the
# queries within each pass.
TABLE_SEED, TABLE_SF, TABLE_DOCS = 42, 0.01, 500
HEAP = "3g"
# The harness is stopped after a set-up allowance plus this many times the
# measured window: on a loaded 4-vCPU host set-up takes up to ~60 s and the
# window up to ~1.5 times `--seconds`.
SETUP_ALLOWANCE_S = 60
WINDOW_ALLOWANCE = 3.5

# The module flags spark-submit passes on JDK 17 (build.sbt keeps the same list).
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def jvm_cmd(classes, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    return (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-Xss16m"] + opens +
            ["-Djdk.reflect.useDirectMethodHandle=false",
             "-Dio.netty.tryReflectionSetAccessible=true",
             "-XX:+IgnoreUnrecognizedVMOptions",
             "-Djava.io.tmpdir=" + args["work"] + "/tmp",
             "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
             "perfbench.Harness"] + ["%s=%s" % kv for kv in args.items()])


def main():
    ap = argparse.ArgumentParser(description="perfbench")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes = build.build()
    t0 = time.time()  # set-up starts: input generation, JVM, warm-up pass
    work = os.path.join(build.OUT, "work-" + a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    if a.workload == "osm_region":
        data = os.path.join(work, "region.osm")
        size = gen_osm.generate(a.seed, data)
    else:
        data = os.path.join(work, "tables")
        size = gen_tables.generate(data, TABLE_SF, TABLE_DOCS, seed=TABLE_SEED)
    side = os.path.join(build.OUT, "trace-%s-%d.json" % (a.workload, a.seed))
    args = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "cores": cores(), "data": data, "work": work,
            "side": side, "pins": os.path.join(HERE, "pins.txt")}
    log_path = os.path.join(build.OUT, "jvm-%s.log" % a.workload)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(jvm_cmd(classes, args), stdout=subprocess.PIPE,
                                stderr=log, text=True)
        try:
            out, _ = proc.communicate(
                timeout=SETUP_ALLOWANCE_S + WINDOW_ALLOWANCE * a.seconds)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("perfbench: harness timed out; log in " + log_path)
    lines = out.strip().splitlines()
    ready = [float(l.split()[1]) / 1e3 for l in lines if l.startswith("PERFBENCH_READY")]
    if proc.returncode != 0 or not ready or not lines[-1].startswith("{"):
        sys.stderr.write("".join(open(log_path).readlines()[-40:]))
        raise SystemExit("perfbench: harness failed (exit %d); log in %s"
                         % (proc.returncode, log_path))
    res = json.loads(lines[-1])
    for l in lines[:-1]:
        if l.startswith("[perfbench]") and " hash " not in l:
            print(l)
    info = res.pop("info")
    info["generated"] = size
    print("[perfbench] info " + json.dumps(info, sort_keys=True))
    if a.trace:
        print("[perfbench] traced profile: " + os.path.relpath(side, build.ROOT))
    else:
        res["metrics"]["setup_s"] = {"value": ready[0] - t0, "unit": "s"}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
