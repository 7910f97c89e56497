#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload feature_pit --seed 1 --seconds 20 --trace 0

Builds the program and the benchmark from source with sbt when the
sources are newer than the last build, launches one JVM for the run,
prints every metric by name with its unit, and ends with one JSON line:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are BENCHMARK.json's end_to_end ones; with
--trace 1 its per_layer ones. Each run also leaves a record under
perfbench/out/records/ (spans too, when traced).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
CLASSPATH = os.path.join(HERE, "target", "perfbench-classpath.txt")
DEADLINE_S = 175
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (the program's own
# build passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file whose change needs a rebuild."""
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, files in os.walk(top):
            yield from (os.path.join(d, f) for f in files)
    for d in (ROOT, os.path.join(ROOT, "project"), HERE, os.path.join(HERE, "project")):
        yield from (os.path.join(d, f) for f in os.listdir(d)
                    if f.endswith((".sbt", ".scala", ".properties")))


def build(deadline):
    """Returns the run classpath, compiling first if anything changed."""
    if os.path.exists(CLASSPATH):
        built = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(f) <= built for f in sources()):
            with open(CLASSPATH) as f:
                return f.read().strip()
    log("building the program and the benchmark with sbt")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "bench/compile", "export bench/Runtime/fullClasspath"]
    proc = subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE, stderr=sys.stderr,
                          stdin=subprocess.DEVNULL, text=True,
                          timeout=max(1, deadline - time.time()))
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    sys.stderr.write("\n".join(lines[:-1]) + "\n")
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(lines[-1] + "\n" if lines else "")
        raise SystemExit(f"[perfbench] build failed (sbt exit {proc.returncode})")
    os.makedirs(os.path.dirname(CLASSPATH), exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    start = time.time()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        raise SystemExit(f"[perfbench] unknown workload {a.workload}")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("[perfbench] no program sources next to the benchmark "
                         "(build.sbt and src/main/scala); nothing to measure")
    # A first run in a fresh checkout may spend most of its time building.
    cp = build(start + 870)
    deadline = min(time.time() + DEADLINE_S, start + 895)

    work = os.path.join(OUT, f"work-{os.getpid()}")
    tag = f"{a.workload}-t{a.trace}-s{a.seed}-{int(time.time() * 1000)}"
    record = os.path.join(OUT, "records", tag + ".json")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(os.path.dirname(record), exist_ok=True)
    jvm = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", work, "--record", record,
        "--launched-ms", str(int(time.time() * 1000))]
    proc = subprocess.Popen(jvm, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL)
    try:
        code = proc.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("[perfbench] run exceeded its time limit")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        raise SystemExit(f"[perfbench] run failed (JVM exit {code})")

    with open(record) as f:
        rec = json.load(f)
    declared = spec["end_to_end"] if a.trace == "0" else spec["per_layer"]
    source = rec["e2e"] if a.trace == "0" else rec["layers"]
    missing = [m["name"] for m in declared if source.get(m["name"]) is None]
    if missing:
        raise SystemExit(f"[perfbench] run did not measure {missing}")
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in declared}

    print(f"workload {a.workload}  seed {a.seed}  seconds {a.seconds}  trace {a.trace}")
    for name, m in metrics.items():
        print(f"  {name:28s} {m['value']:>16.6g} {m['unit']}")
    print("  workload metrics:")
    for name, m in rec["named"].items():
        print(f"  {name:28s} {m['value']:>16.6g} {m['unit']}")
    fail_ratio = rec["failed"] / rec["attempted"]
    print(f"  {'fail_ratio':28s} {fail_ratio:>16.6g} ratio "
          f"({rec['failed']} of {rec['attempted']} operations)")
    calib = sorted(rec["host"]["calib_s"])
    print(f"  {'host.calib_s':28s} {calib[len(calib) // 2]:>16.6g} s "
          f"(median of {len(calib)} probes)")
    for name, ok in rec["checks"].items():
        print(f"  check {name}: {'ok' if ok else 'FAILED'}")
    print(f"  record {os.path.relpath(record, ROOT)}")
    print(json.dumps({"correct": rec["correct"], "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
