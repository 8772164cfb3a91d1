#!/usr/bin/env python3
"""graft benchmark: one workload per invocation, from the repository root.

    python3 perfbench/run.py --workload tpch_batch --seed 1 --seconds 10 --trace 0

Builds the program and the harness with sbt on first use (cached in
.bench_build/ until a source file changes), runs the workload in its own
JVM with the run options the repository build gives its forked JVMs,
checks the results, writes every metric, stamp and span under
.bench_build/runs/, and prints one JSON summary line last. See README.md.
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
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data")
# Pinned heap for every workload JVM (-Xms = -Xmx), handed to the
# repository build through its SPARK_DRIVER_MEM knob.
HEAP = "4g"
JVM_TIMEOUT_S = 160

WORKLOADS = ["tpch_batch", "curate_write", "serve_mixed"]
# Metric names and units, as BENCHMARK.json declares them.
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def sources():
    """Every file the build reads: the program's and the harness's."""
    out = []
    for top in ["build.sbt", "project", "src/main", "perfbench/build.sbt",
                "perfbench/project", "perfbench/src"]:
        p = os.path.join(ROOT, top)
        if os.path.isfile(p):
            out.append(p)
        for d, dirs, files in os.walk(p):
            dirs[:] = [x for x in dirs if x != "target"
                       and not (x == "project" and os.path.basename(d) == "project")]
            out += [os.path.join(d, f) for f in files]
    return sorted(out)


def build():
    """sbt compiles the program with its own build and exports the harness
    classpath plus that build's run JVM options to .bench_build/launch.json."""
    h = hashlib.sha256(HEAP.encode())
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    launch = os.path.join(BUILD, "launch.json")
    stamp_file = os.path.join(BUILD, "launch.stamp")
    if os.path.exists(launch) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return json.load(open(launch))
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_DRIVER_MEM=HEAP)
    env.pop("SPARK_GRAFT_XMS", None)
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    log("building (sbt exportLaunch)")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "exportLaunch"], cwd=HERE, env=env, stdout=sys.stderr,
                       stderr=sys.stderr, stdin=subprocess.DEVNULL, timeout=700)
    if r.returncode != 0 or not os.path.exists(launch):
        sys.exit(f"perfbench: build failed (sbt exit {r.returncode})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return json.load(open(launch))


def git_stamp():
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if sha.returncode != 0:
            return {"git_sha": "unknown", "git_dirty": None}
        dirty = subprocess.run(["git", "status", "--porcelain", "--", ".", ":!.bench_build"],
                               cwd=ROOT, capture_output=True, text=True, timeout=10)
        return {"git_sha": sha.stdout.strip(), "git_dirty": bool(dirty.stdout.strip())}
    except (OSError, subprocess.SubprocessError):
        return {"git_sha": "unknown", "git_dirty": None}


def run_jvm(launch, args, run_dir):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + launch["java_options"] + [
        f"-Djava.io.tmpdir={tmp}", "-cp", os.pathsep.join(launch["classpath"]),
        "graftbench.Main", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", DATA, "--out", run_dir] + (["--corrupt"] if args.corrupt else [])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    with open(os.path.join(run_dir, "jvm.log"), "wb") as out:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt", action="store_true",
                    help="corrupt one expected result (self-test)")
    args = ap.parse_args()
    for need in ["build.sbt", "src/main/scala/graft/SparkEntry.scala"]:
        if not os.path.exists(os.path.join(ROOT, need)):
            sys.exit(f"perfbench: {need} not found under {ROOT}; run from a graft checkout")
    if not os.path.isdir(os.path.join(DATA, "sf0.1")):
        sys.exit("perfbench: test data missing")

    launch = build()
    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-seed{args.seed}-trace{args.trace}"
                           f"-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}")
    os.makedirs(run_dir)
    t0 = time.time()
    code = run_jvm(launch, args, run_dir)
    result_path = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(result_path):
        tail = open(os.path.join(run_dir, "jvm.log"), errors="replace").read()[-3000:]
        log(tail)
        sys.exit(f"perfbench: workload JVM {'timed out' if code is None else f'exited {code}'}")
    res = json.load(open(result_path))
    failures = list(res["failures"])
    attempted, failed = res["attempted"], res["failed"]
    if args.workload != "serve_mixed":
        import oracle
        checked, bad = oracle.check(os.path.join(DATA, res["info"]["sf"]), run_dir,
                                    os.path.join(BUILD, "oracle-cache"), args.corrupt)
        attempted += checked
        failed += len(bad)
        failures += bad
        res["info"]["oracle_checked"] = checked
    wall = time.time() - t0

    xmx = [o for o in launch["java_options"] if o.startswith("-Xm")]
    stamp = dict(git_stamp(), workload=args.workload, seed=args.seed, trace=args.trace,
                 host_cores=os.cpu_count(), heap=xmx, gc=res["info"].get("jvm", {}).get("gc"),
                 spark_graft_env={k: v for k, v in os.environ.items()
                                  if k.startswith("SPARK_GRAFT_")},
                 host=res["info"].get("host"),
                 gc_pause_max_ms=res["info"].get("gc_pause_max_ms"),
                 jvm_wall_s=round(wall, 3))
    full = dict(res, attempted=attempted, failed=failed, failures=failures,
                error_rate=failed / max(1, attempted), stamp=stamp)
    with open(os.path.join(run_dir, "bench.json"), "w") as f:
        json.dump(full, f, indent=1)
    for d in ["tmp", "spark-local", "cache", "derby", "results", "spark-warehouse",
              "metastore_db"]:
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    for msg in failures[:10]:
        log("FAILED:", msg)

    want = END_TO_END if args.trace == 0 else PER_LAYER
    src = res["end_to_end"] if args.trace == 0 else res["per_layer"]
    missing = [m for m in want if m not in src]
    if missing:
        sys.exit(f"perfbench: metrics missing from the run: {missing}")
    metrics = {m: {"value": round(float(src[m]), 6), "unit": u} for m, u in want.items()}
    print(json.dumps({"stamp": stamp, "out": os.path.relpath(run_dir, ROOT)}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}, separators=(",", ":")))


if __name__ == "__main__":
    main()
