"""Measures how steady the benchmark's end-to-end metrics are.

    python3 graftbench/steadiness.py --seeds 1-10 --out graftbench/evidence/set1.json \
        [--workloads wheel_sql,scan_sql] [--seconds 8] [--against graftbench/evidence/set0.json]

Runs every listed workload once per seed (untraced) and reports, per
metric, the median of the values and their spread: the distance between
the first and third quartile (statistics.quantiles, n=4) as a share of the
median. Each spread is compared with the metric's bound in BENCHMARK.json
and with a third of it. The wall time of every run is recorded too, and
from its results file the SparkSession start time and the share of CPU
time the host's hypervisor took (steal): neither depends on the
workload, so together they show how fast the host was during each run.

With --against an earlier set, each median is also compared with that
set's: the set is worse by the share the metric moved in its bad
direction, which must stay within the bound. The exit code is nonzero
when a run failed, or a spread (setup_s excepted) or a move between the
sets exceeds its bound.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    a, _, b = spec.partition("-")
    return list(range(int(a), int(b or a) + 1))


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--seeds", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--workloads")
    p.add_argument("--seconds", type=float)
    p.add_argument("--against")
    a = p.parse_args()
    before = None
    if a.against:
        with open(a.against) as f:
            before = json.load(f)["workloads"]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    seconds = a.seconds or spec["run_seconds"]
    report = {"seconds": seconds, "seeds": seeds(a.seeds), "workloads": {}}
    ok = True
    for wl in workloads:
        values = {m["name"]: [] for m in spec["end_to_end"]}
        walls = []
        host = []
        for seed in seeds(a.seeds):
            t0 = time.time()
            r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                                "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                               cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
            walls.append(round(time.time() - t0, 1))
            try:
                with open(os.path.join(HERE, "out", f"{wl}-seed{seed}-trace0.json")) as f:
                    info = json.load(f)["info"]
                host.append({"session_start_s": info.get("session_start_s"),
                             "cpu_steal_frac": info.get("cpu_steal_frac")})
            except (OSError, ValueError, KeyError):
                host.append(None)
            last = json.loads(r.stdout.decode().strip().splitlines()[-1])
            if r.returncode != 0 or not last["correct"]:
                ok = False
                print(f"{wl} seed {seed}: run failed or incorrect", file=sys.stderr)
            for name, m in last["metrics"].items():
                values[name].append(m["value"])
        rows = {}
        for m in spec["end_to_end"]:
            v = values[m["name"]]
            q1, med, q3 = statistics.quantiles(v, n=4)
            spread = (q3 - q1) / med
            row = {"median": med, "spread": spread, "bound": m["bound"],
                   "within_bound": spread <= m["bound"],
                   "within_third": spread <= m["bound"] / 3, "values": v}
            if m["name"] != "setup_s" and spread > m["bound"]:
                ok = False
            moved = ""
            if before and wl in before and m["name"] in before[wl]["metrics"]:
                old = before[wl]["metrics"][m["name"]]["median"]
                worse = (med - old) / old if m["better"] == "lower" else (old - med) / old
                row["worse_than_against"] = worse
                row["within_bound_against"] = worse <= m["bound"]
                ok = ok and worse <= m["bound"]
                moved = f"  worse than before by {worse:+.3f}"
            rows[m["name"]] = row
            print(f"{wl:14s} {m['name']:16s} median {med:12.5g} {m['unit']:5s} "
                  f"spread {spread:6.3f} (bound {m['bound']}){moved}", flush=True)
        report["workloads"][wl] = {"metrics": rows, "run_wall_s": walls, "host": host}
    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
    with open(a.out, "w") as f:
        json.dump(report, f, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
