#!/usr/bin/env python3
"""The graft benchmark: one seeded workload in a fresh JVM, one result line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the root of a graft checkout. It builds the library and the
benchmark from source with sbt (offline) into `perfbench/target` and
`target/`, skipping the build when no source changed, then launches
`perfbench.Main` with the root build's javaOptions on `local[<cores>]`.

Workloads: logs, catalog (see perfbench/METRICS.md).
With --trace 0 the result line carries the end-to-end metrics of
BENCHMARK.json. With --trace 1 it carries the per-layer
metrics, and spans land in .bench_build/runs/<run>/spans.json.

The last line of stdout is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("logs", "catalog")
JVM_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_hash(paths):
    h = hashlib.sha256()
    for top in paths:
        if os.path.isfile(top):
            files = [top]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the library and the benchmark; returns the java command."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("no graft sources here: run from the root of a graft checkout")
    target = os.path.join(BENCH, "target")
    opts_f, cp_f = os.path.join(target, "jvm-options.txt"), os.path.join(target, "classpath.txt")
    stamp_f = os.path.join(target, "sources.sha256")
    stamp = tree_hash([os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
                       os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "build.sbt"),
                       os.path.join(BENCH, "project", "build.properties"),
                       os.path.join(BENCH, "src", "main")])
    fresh = all(os.path.isfile(f) for f in (opts_f, cp_f, stamp_f)) and open(stamp_f).read() == stamp
    if not fresh:
        # the root build turns SPARK_DRIVER_MEM into the JVM's -Xmx (its
        # default is 24g); 4g holds every workload with room to spare and keeps
        # the benchmark from claiming most of a shared machine's memory
        env = dict(os.environ, COURSIER_MODE="offline", SPARK_DRIVER_MEM="4g")
        sbt_opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            sbt_opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(sbt_opts)
        os.makedirs(WORK, exist_ok=True)
        with open(os.path.join(WORK, "build.log"), "w") as log:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                               cwd=BENCH, env=env, stdout=log, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=800)
        if r.returncode != 0 or not (os.path.isfile(opts_f) and os.path.isfile(cp_f)):
            fail(f"build failed, see {os.path.join(WORK, 'build.log')}")
        with open(stamp_f, "w") as f:
            f.write(stamp)
    opts = [l for l in open(opts_f).read().splitlines() if l]
    return ["java", *opts, "-cp", open(cp_f).read().strip(), "perfbench.Main"]


def catalog_data():
    """The catalog's tables, generated once per generator version."""
    gen = os.path.join(BENCH, "catalog_data.py")
    out = os.path.join(WORK, "catalog-data")
    stamp = tree_hash([gen])
    stamp_f = os.path.join(out, "generator.sha256")
    if not (os.path.isfile(stamp_f) and open(stamp_f).read() == stamp):
        shutil.rmtree(out, ignore_errors=True)
        subprocess.run([sys.executable, gen, out], check=True, timeout=120)
        with open(stamp_f, "w") as f:
            f.write(stamp)
    return out


def launch(java, work, args):
    """One fresh JVM; Spark's own logging goes to a file in `work`."""
    os.makedirs(work, exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = [java[0], f"-Djava.io.tmpdir={tmp}", *java[1:]]
    with open(os.path.join(work, "jvm.log"), "a") as log:
        t0 = time.time()
        p = subprocess.Popen(java + args + ["--work", work, "--local-dir", os.path.join(tmp, "spark"),
                                            "--spawn-ms", repr(t0 * 1000.0)],
                             stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"JVM timed out after {JVM_TIMEOUT_S} s, see {work}/jvm.log")
    if rc != 0:
        fail(f"JVM exited with {rc}, see {work}/jvm.log")


def spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        fail("BENCHMARK.json not found")
    return json.load(open(path))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    bench = spec()
    java = build()
    cores = len(os.sched_getaffinity(0))
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores)]
    if a.workload == "catalog":
        args += ["--catalog-data", catalog_data(),
                 "--queries", os.path.join(BENCH, "catalog_queries.json"),
                 "--digests", os.path.join(BENCH, "catalog_digests.json")]
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)

    launch(java, run_dir, args)
    res = json.load(open(os.path.join(run_dir, "result.json")))
    # keep the run's records (result, spans, manifests, stream timeline, JVM
    # log); drop its bulky inputs and outputs
    for d, _, files in os.walk(run_dir, topdown=False):
        for f in files:
            if not f.endswith((".json", ".log")):
                os.remove(os.path.join(d, f))
        if d != run_dir and not os.listdir(d):
            os.rmdir(d)

    got = res["metrics"]
    wanted = bench["end_to_end"] if a.trace == 0 else bench["per_layer"]
    missing = [m["name"] for m in wanted if m["name"] not in got and a.trace == 0]
    if missing:
        fail(f"workload reported no {missing}")
    # a layer the workload does not use did no work: it reads 0
    metrics = {m["name"]: {"value": float(got.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted}
    attempted, failed = int(res["attempted"]), int(res["failed"])
    info = dict(res["info"], failed_frac=failed / max(attempted, 1), run_dir=run_dir)
    untraced = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-t0", "result.json")
    if a.trace == 1 and os.path.isfile(untraced):
        # the traced run's own end-to-end figures against an untraced run of the same seed
        info["tracing_overhead"] = {k: got[f"traced.{k}"] - v
                                    for k, v in json.load(open(untraced))["metrics"].items()}
    print(json.dumps({"workload": a.workload, "info": info}))
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
