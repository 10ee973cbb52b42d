#!/usr/bin/env python3
"""End-to-end benchmark of graft's BBHA experiment and its job service.

Run from the repository root:

    python3 perfbench/run.py --workload exp_clustering_wide --seed 1 \
        --seconds 10 --trace 0

It builds the program from the checkout's sources (sbt, once per source
state), generates the workload's inputs from ``--seed``, runs the workload on
``local[4]`` in one JVM for ``--seconds``, checks every output, and prints one
JSON object as the last line of stdout. ``--trace 0`` reports the end-to-end
metrics of BENCHMARK.json, ``--trace 1`` the per-layer ones. ``--size smoke``
shrinks every workload to a few seconds for the benchmark's own tests.

The exit code is 0 only when the run finished and every output check passed.
See NOTES.md next to this file for what each workload and metric is for.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
LAUNCH = os.path.join(HERE, "target", "launch.txt")
STAMP = os.path.join(HERE, "target", "launch.stamp")
MAIN_CLASS = "graft.perfbench.PerfBench"
RUN_TIMEOUT_S = 170

sys.path.insert(0, HERE)
import gen  # noqa: E402

CLUSTERING = {"model": "clustering", "clustering-algorithm": "k_means",
              "clustering-scoring-method": "log_likelihood",
              "random-state": "42"}


def workloads(size):
    """Input shapes and experiment arguments of every workload at a size."""
    smoke = size == "smoke"

    def data(features, samples, planted, nan_features, inf_samples):
        return dict(n_features=features, n_samples=samples, n_planted=planted,
                    n_nan_features=nan_features, n_inf_samples=inf_samples)

    def bbha(stars, iterations):
        return {"n-stars": str(stars), "bbha-iterations": str(iterations)}

    cv = {"cv-folds": "3", "random-state": "42"}
    return {
        "exp_clustering_wide": dict(
            service=False, clients=1, settle_ops=3,
            data=data(200, 60, 8, 4, 2) if smoke
            else data(3000, 300, 24, 30, 6),
            experiments=[dict(app="wide",
                              args={**CLUSTERING, **(bbha(4, 1) if smoke
                                                     else bbha(16, 2))})]),
        "exp_cv_tall": dict(
            service=False, clients=1, settle_ops=3,
            data=data(12, 60, 3, 1, 2) if smoke else data(40, 160, 4, 2, 3),
            experiments=[
                dict(app="tall-svm",
                     args={"model": "svm", **cv,
                           **(bbha(4, 1) if smoke else bbha(8, 2))}),
                dict(app="tall-rf",
                     args={"model": "rf", "rf-n-estimators": "5", **cv,
                           **(bbha(4, 1) if smoke else bbha(8, 1))})]),
        "service_small_jobs": dict(
            service=True, clients=2, settle_ops=8,
            data=data(20, 40, 3, 1, 1) if smoke else data(60, 200, 6, 2, 3),
            experiments=[dict(app="job",
                              args={**CLUSTERING, **(bbha(4, 1) if smoke
                                                     else bbha(8, 3))})]),
    }


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of every file the build reads, to skip an up-to-date build."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "scala"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    digest = source_digest()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read() == digest:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
        cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, timeout=850)
    if proc.returncode != 0 or not os.path.exists(LAUNCH):
        fail(f"build failed (sbt exit {proc.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def run_jvm(plan_path, out_path, env):
    with open(LAUNCH) as fh:
        launch = [line for line in fh.read().splitlines() if line]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # later -Xmx wins over the build's; keep the heap small on shared boxes
    cmd = [java] + launch + ["-Xmx3g", f"-Djava.io.tmpdir={tmp}",
                             MAIN_CLASS, plan_path, out_path]
    try:
        proc = subprocess.run(cmd, cwd=WORK, env=env, stdout=sys.stderr,
                              stderr=sys.stderr, stdin=subprocess.DEVNULL,
                              timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"benchmark JVM still running after {RUN_TIMEOUT_S} s; killed")
    return proc.returncode


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    args = ap.parse_args()

    specs = workloads(args.size)
    if args.workload not in specs:
        fail(f"unknown workload {args.workload}; one of {sorted(specs)}")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("run from a graft checkout: build.sbt and src/main/scala are missing")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    wanted = bench["per_layer" if args.trace else "end_to_end"]

    build()
    spec = specs[args.workload]
    shutil.rmtree(WORK, ignore_errors=True)
    data_dir = os.path.join(WORK, "data")
    results_dir = os.path.join(WORK, "results")
    os.makedirs(data_dir)
    os.makedirs(results_dir)
    data = gen.generate(data_dir, args.workload, args.seed, **spec["data"])
    smoke = args.size == "smoke"
    plan = {
        "workload": args.workload, "service": spec["service"],
        "seconds": args.seconds, "trace": bool(args.trace),
        "setups": 1 if smoke or args.trace else 3,
        "settle_ops": 0 if smoke else spec["settle_ops"],
        "min_ops": 1 if smoke else 3, "clients": spec["clients"],
        "work_dir": WORK, "datasets_dir": data_dir,
        "results_dir": results_dir, "data": data,
        "experiments": spec["experiments"],
    }
    plan_path = os.path.join(WORK, "plan.json")
    out_path = os.path.join(WORK, "out.json")
    with open(plan_path, "w") as fh:
        json.dump(plan, fh, indent=1)
    # Main.buildConfig resolves datasets and results through these
    env = dict(os.environ, DATASETS_PATH=data_dir, RESULTS_PATH=results_dir,
               SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"))

    code = run_jvm(plan_path, out_path, env)
    if code != 0 or not os.path.exists(out_path):
        fail(f"benchmark JVM exited {code}")
    with open(out_path) as fh:
        out = json.load(fh)
    metrics = {}
    for m in wanted:
        v = out["metrics"].get(m["name"])
        if v is None:
            fail(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    correct = out["failed"] == 0 and out["attempted"] >= 1
    print(json.dumps({"correct": correct, "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
