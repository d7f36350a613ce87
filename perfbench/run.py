#!/usr/bin/env python3
"""Build the engine from source and run one benchmark workload.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

The engine sources under ../src/main/scala are compiled together with the
benchmark driver (perfbench/src) by the sbt project in this directory; the
build is reused while no source file changes. Each workload then runs in one
JVM at local[<cores>]. Every file the run writes stays under perfbench/.work
and perfbench/target. The last line of standard output is the result JSON;
the exit code is non-zero when an output is wrong or an operation failed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
STAMP = os.path.join(HERE, "target", "perfbench-classpath.json")
WORKLOADS = ["stream_b1000", "stream_churn_b20000", "batch"]
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 850
JVM_OPTS = ["-Xmx6g", "-XX:+UseParallelGC"] + [
    x for p in ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
                "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
                "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
                "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
                "java.base/sun.util.calendar"]
    for x in ("--add-opens", p + "=ALL-UNNAMED")]


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("perfbench: no Spark installation found (set SPARK_HOME)")
    return home


def sbt_env():
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos] + opts
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Returns the runtime classpath, compiling first when a source changed."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("perfbench: no engine sources at src/main/scala; run from a full checkout")
    d = digest()
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            stamp = json.load(fh)
        if stamp.get("digest") == d:
            return stamp["classpath"]
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    log = os.path.join(HERE, "target", "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                             "export Runtime/fullClasspath"], cwd=HERE, env=sbt_env(),
                            stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                            timeout=BUILD_LIMIT_S).returncode
    with open(log) as fh:
        lines = [l.strip() for l in fh if l.strip()]
    if rc != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write("".join(l + "\n" for l in lines[-30:]))
        sys.exit("perfbench: build failed (log: %s)" % log)
    with open(STAMP, "w") as fh:
        json.dump({"digest": d, "classpath": lines[-1]}, fh)
    return lines[-1]


def run_one(cp, workload, seed, seconds, trace, deadline):
    """Runs one workload JVM; relays its detail lines; returns (rc, result)."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    cmd = ["java"] + JVM_OPTS + ["-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
                                 "-cp", cp, "perfbench.Main", "--workload", workload,
                                 "--seed", str(seed), "--seconds", str(seconds),
                                 "--trace", str(trace), "--work", WORK,
                                 "--expected", os.path.join(HERE, "expected.json")]
    err = open(os.path.join(WORK, "logs", "%s.stderr" % workload), "w")
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep scratch in WORK
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"))
    p = subprocess.Popen(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=err,
                         stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    last = None
    try:
        for line in p.stdout:
            line = line.rstrip("\n")
            if line.startswith("{"):
                last = line
            else:
                print(line, flush=True)
            if time.time() > deadline:
                raise TimeoutError
        rc = p.wait(timeout=max(1, deadline - time.time()))
    except (TimeoutError, subprocess.TimeoutExpired):
        sys.stderr.write("perfbench: %s exceeded its time limit\n" % workload)
        rc = 124
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        err.close()
    if rc != 0 and last is None:
        with open(err.name) as fh:
            sys.stderr.write("".join(fh.readlines()[-20:]))
    return rc, (json.loads(last) if last else None)


def check_names(res, trace):
    """The result must carry exactly the metrics BENCHMARK.json lists."""
    spec = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec):
        return True
    with open(spec) as fh:
        bench = json.load(fh)
    want = [m["name"] for m in bench["per_layer" if trace else "end_to_end"]]
    if sorted(want) != sorted(res["metrics"]):
        sys.stderr.write("perfbench: metrics differ from BENCHMARK.json: missing %s, extra %s\n" % (
            sorted(set(want) - set(res["metrics"])), sorted(set(res["metrics"]) - set(want))))
        return False
    return True


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS + ["all"])
    ap.add_argument("--derive-pins", action="store_true",
                    help="recompute expected.json for the default seed without the fast engine")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t0 = time.time()
    cp = build()
    if a.derive_pins:
        sys.exit(subprocess.run(["java"] + JVM_OPTS + ["-Djava.io.tmpdir=" + os.path.join(WORK, "tmp"),
                                 "-cp", cp, "perfbench.Pins", WORK, os.path.join(HERE, "expected.json")],
                                cwd=HERE).returncode)
    if a.workload is None:
        ap.error("--workload is required")
    names = WORKLOADS if a.workload == "all" else [a.workload]
    rcs, results = [], {}
    for w in names:
        rc, res = run_one(cp, w, a.seed, a.seconds, a.trace, time.time() + RUN_LIMIT_S)
        rcs.append(rc)
        if res is None:
            sys.exit("perfbench: %s produced no result (exit %d)" % (w, rc))
        if not check_names(res, a.trace):
            rcs.append(3)
        results[w] = res
    if len(names) == 1:
        out = results[names[0]]
    else:
        for w in names:
            print("[perfbench] %s result: %s" % (w, json.dumps(results[w])))
        out = {"correct": all(r["correct"] for r in results.values()),
               "attempted": sum(r["attempted"] for r in results.values()),
               "failed": sum(r["failed"] for r in results.values()),
               "metrics": {"%s.%s" % (w, k): v for w, r in results.items() for k, v in r["metrics"].items()}}
    print("[perfbench] total wall %.1f s" % (time.time() - t0))
    print(json.dumps(out), flush=True)
    sys.exit(next((rc for rc in rcs if rc != 0), 0))


if __name__ == "__main__":
    main()
