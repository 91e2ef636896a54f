"""Runs one graft benchmark workload and prints its metrics.

    python3 graftbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
harness from source with sbt (offline); later runs reuse the build while
the sources are unchanged. Inputs are generated from the seed into a
scratch directory, the harness runs in its own JVM, and the metrics are
printed one per line with their units. The last line of standard output
is one JSON object: {"correct", "attempted", "failed", "metrics"}, where
the metrics are the end-to-end ones with --trace 0 and the per-layer ones
with --trace 1 (names in BENCHMARK.json). Full results, and with
--trace 1 the trace, are kept under graftbench/out/.

The exit code is 0 only when every operation's answer checked out.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402
WORKLOADS = ["wheel_sql", "scan_sql", "ingest_mixed", "index_combine"]
HEAP = "2g"
HARNESS_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 850


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every input of the build, engine and harness."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    return files


def build():
    """Builds with sbt when the sources changed since the last build;
    returns (classpath, jvm options)."""
    target = os.path.join(HERE, "target")
    stamp_file = os.path.join(target, "build.stamp")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(target, "classpath.txt")
    opts_file = os.path.join(target, "jvm-options.txt")
    fresh = os.path.exists(stamp_file) and open(stamp_file).read() == stamp
    if not (fresh and os.path.exists(cp_file)):
        log("building engine and harness with sbt")
        env = dict(os.environ, COURSIER_MODE="offline")
        if "SBT_OPTS" not in env:
            opts = ["-Dsbt.offline=true", "-Xmx2g"]
            repos = os.path.expanduser("~/.sbt/repositories")
            if os.path.exists(repos):
                opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
            env["SBT_OPTS"] = " ".join(opts)
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        if r.returncode != 0:
            sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
            raise SystemExit("build failed")
        with open(stamp_file, "w") as f:
            f.write(stamp)
    with open(cp_file) as f:
        cp = f.read().strip()
    with open(opts_file) as f:
        jvm_opts = [l for l in f.read().splitlines() if l]
    return cp, jvm_opts


def cpu_ticks():
    """(steal, total) CPU ticks of the host so far, from /proc/stat; None
    where it does not exist."""
    try:
        with open("/proc/stat") as f:
            t = [int(x) for x in f.readline().split()[1:]]
        return t[7], sum(t)
    except (OSError, IndexError, ValueError):
        return None


def run_workload(workload, seed, seconds, trace, launch, work, out_dir):
    cp, jvm_opts = launch
    inputs = os.path.join(work, "inputs")
    results = os.path.join(out_dir, f"{workload}-seed{seed}-trace{trace}.json")
    if os.path.exists(results):
        os.remove(results)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", f"-Djava.io.tmpdir={tmp}"] + jvm_opts +
           ["-cp", cp, "graftbench.Harness",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--input", inputs, "--out", results, "--work", work])
    jvm_log = os.path.join(work, "harness.log")
    ticks0 = cpu_ticks()
    with open(jvm_log, "wb") as lf:
        p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            # the harness starts its session while the inputs are generated
            t0 = time.time()
            gen.generate(seed, inputs, workload)
            log(f"generated inputs for seed {seed} in {time.time() - t0:.1f}s")
            rc = p.wait(timeout=HARNESS_TIMEOUT_S)
        except BaseException as e:
            p.kill()
            p.wait()
            if not isinstance(e, subprocess.TimeoutExpired):
                raise
            rc = "timeout"
    if rc != 0 or not os.path.exists(results):
        with open(jvm_log, errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"harness failed ({rc}) on {workload}")
    with open(results) as f:
        res = json.load(f)
    ticks1 = cpu_ticks()
    if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
        # the share of CPU time the hypervisor gave to others during the run
        res["info"]["cpu_steal_frac"] = (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1])
        with open(results, "w") as f:
            json.dump(res, f)
    return res


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.exists(os.path.join(ROOT, "build.sbt")):
        raise SystemExit("engine sources not found: run from a full checkout of the repository")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    launch = build()
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    workloads = WORKLOADS if a.workload == "all" else [a.workload]
    ok = True
    attempted = failed = 0
    p50 = {}
    for wl in workloads:
        work = os.path.join(HERE, ".work", f"{wl}-{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        try:
            res = run_workload(wl, a.seed, a.seconds, a.trace, launch, work, out_dir)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        m = res["metrics"]
        missing = [x["name"] for x in wanted if x["name"] not in m]
        for name, v in m.items():
            print(f"{wl:14s} {name:28s} {v['value']:.6g} {v['unit']}")
        if "cpu_steal_frac" in res["info"]:
            print(f"{wl:14s} {'cpu_steal_frac':28s} {res['info']['cpu_steal_frac']:.4g} ratio")
        for msg in res["failures"]:
            print(f"{wl:14s} FAILED {msg}")
        if "query_p50_ms" in m:
            p50[wl] = m["query_p50_ms"]["value"]
        correct = res["failed"] == 0 and not missing
        if missing:
            print(f"{wl:14s} missing metrics: {', '.join(missing)}")
        ok = ok and correct
        attempted += res["attempted"]
        failed += res["failed"]
        last = {"correct": correct, "attempted": res["attempted"], "failed": res["failed"],
                "metrics": {x["name"]: m[x["name"]] for x in wanted if x["name"] in m}}
    if "wheel_sql" in p50 and "scan_sql" in p50:
        print(f"scan_sql/wheel_sql query_p50_ms = {p50['scan_sql']:.4g} ms / "
              f"{p50['wheel_sql']:.4g} ms = {p50['scan_sql'] / p50['wheel_sql']:.3g}")
    if a.workload == "all":
        last = {"correct": ok, "attempted": attempted, "failed": failed, "metrics": {}}
    print(json.dumps(last))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
