#!/usr/bin/env python3
"""graft's benchmark: builds the library and the benchmark from source,
runs one workload, checks its outputs and prints the result.

    python3 perfbench/run.py --workload pipelines --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py compare --base A.json ... --change B.json ...

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
listed in BENCHMARK.json for `--trace 0`, its per-layer metrics for
`--trace 1`. The line before it is the full record (failures by name,
percentiles with sample counts, provenance), which is also kept under
perfbench/.work/results/. `compare` summarises two sets of such records
and refuses sets measured on different core counts.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
LAUNCH = os.path.join(HERE, "target", "launch.txt")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
HEAP = "3g"
SCALE_FACTOR = "0.01"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
# The build is offline: dependencies come from the local caches only.
SBT_OPTS = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx3g"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    return [f for f in files if os.path.isfile(f)]


def source_digest():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(digest):
    """Compiles the library and the benchmark unless this source tree
    was built already; leaves the classpath in target/launch.txt."""
    if os.path.exists(STAMP) and os.path.exists(LAUNCH):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = SBT_OPTS + ([f"-Dsbt.repository.config={repos}"] if os.path.exists(repos) else [])
    env["SBT_OPTS"] = " ".join(opts)
    log("building library and benchmark")
    t0 = time.time()
    subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeLaunch"],
                   cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                   timeout=BUILD_TIMEOUT_S, check=True)
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")
    log(f"built in {time.time() - t0:.1f} s")


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                       capture_output=True, text=True)
    return r.stdout.strip() if r.returncode == 0 else "unknown"


def finite(v):
    return isinstance(v, (int, float)) and not math.isnan(v) and not math.isinf(v)


def run(args):
    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    with open(bench_file) as fh:
        bench = json.load(fh)
    if args.workload not in [w["name"] for w in bench["workloads"]]:
        sys.exit(f"unknown workload {args.workload}")
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            sys.exit(f"no graft sources here: {os.path.join(ROOT, need)} is missing")
    digest = source_digest()
    build(digest)
    with open(LAUNCH) as fh:
        launch = fh.read().splitlines()
    classpath, jvm_flags = launch[0], [f for f in launch[1:] if f]

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp"] + jvm_flags +
           ["-cp", classpath, "graft.perfbench.Main", args.workload,
            f"seed={args.seed}", f"seconds={args.seconds}", f"trace={args.trace}",
            f"cores={cores}", f"data={HERE}/data/sf{SCALE_FACTOR}", f"work={work}",
            f"digests={HERE}/digests.json",
            f"prov.git_commit={git_commit()}", f"prov.source_sha256={digest}",
            f"prov.scale_factor={SCALE_FACTOR}", f"prov.jvm_heap={HEAP}",
            f"prov.nproc={cores}"])
    jvm_log = os.path.join(WORK, f"jvm-{args.workload}.log")
    with open(jvm_log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True, cwd=work)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        with open(jvm_log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        sys.exit(f"benchmark JVM failed with code {proc.returncode}")
    result = json.loads(lines[-1])

    wanted = bench["per_layer" if args.trace else "end_to_end"]
    metrics = {}
    for m in wanted:
        name = m["name"]
        if name not in result["metrics"]:
            sys.exit(f"metric {name} is missing from the result")
        v = result["metrics"][name]
        if not finite(v):
            sys.exit(f"metric {name} was not measured: {v}")
        metrics[name] = {"value": v, "unit": m["unit"]}
    extra = sorted(set(result["metrics"]) - {m["name"] for m in wanted})
    if extra:
        sys.exit(f"metrics missing from BENCHMARK.json: {extra}")

    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    record = os.path.join(WORK, "results",
                          f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}-{os.getpid()}.json")
    with open(record, "w") as fh:
        json.dump(result, fh, indent=1)
    for f in result["failures"]:
        log(f"FAILED {f}")
    print(json.dumps(result))
    print(json.dumps({"correct": bool(result["correct"]), "attempted": int(result["attempted"]),
                      "failed": int(result["failed"]), "metrics": metrics}))


def compare(args):
    """Median and quartiles of each metric on both sides, and the
    change's median over the base's. Runs on different core counts, scale
    factors or workloads are not comparable and are refused."""
    sides = {}
    for side, files in (("base", args.base), ("change", args.change)):
        sides[side] = []
        for f in files:
            with open(f) as fh:
                sides[side].append(json.load(fh))
    recs = sides["base"] + sides["change"]
    for key in ("nproc", "scale_factor", "jvm_heap"):
        seen = {r["provenance"].get(key) for r in recs}
        if len(seen) > 1:
            sys.exit(f"refused: runs differ in {key}: {sorted(map(str, seen))}")
    for key in ("workload", "trace"):
        seen = {str(r[key]) for r in recs}
        if len(seen) > 1:
            sys.exit(f"refused: runs differ in {key}: {sorted(seen)}")
    names = sorted(set().union(*(r["metrics"].keys() for r in recs)))
    for n in names:
        row = [n]
        meds = {}
        for side in ("base", "change"):
            vals = [r["metrics"][n] for r in sides[side] if n in r["metrics"]]
            if len(vals) >= 2:
                q1, med, q3 = statistics.quantiles(vals, n=4)
            else:
                q1 = med = q3 = vals[0] if vals else float("nan")
            meds[side] = med
            row.append(f"{side} {med:.4g} [{q1:.4g}, {q3:.4g}] n={len(vals)}")
        ratio = meds["change"] / meds["base"] if meds["base"] else float("nan")
        row.append(f"ratio {ratio:.3f}")
        print("  ".join(row))


def main():
    if len(sys.argv) > 1 and sys.argv[1] == "compare":
        p = argparse.ArgumentParser(prog="run.py compare")
        p.add_argument("--base", nargs="+", required=True)
        p.add_argument("--change", nargs="+", required=True)
        compare(p.parse_args(sys.argv[2:]))
        return
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    run(p.parse_args())


if __name__ == "__main__":
    main()
