#!/usr/bin/env python3
"""Run-to-run spread and A-vs-A record of the benchmark.

    python3 perfbench/spread.py --out perfbench/baseline_4c.json

Runs ``perfbench/run.py`` (untraced) once per seed, workload and set, for
the ten seeds 1-10 and two sets of the same code, and records for every
end-to-end metric of ``BENCHMARK.json``:
- per set: the values, their median and quartiles
  (``statistics.quantiles(values, n=4)``) and the spread, the distance
  between the quartiles as a share of the median;
- how much worse the second set's median is than the first's, as a share
  of the first.
A metric passes when its spread in each set and that change both stay
within the metric's bound; the record lists the ones that do not as
unresolved.  The two sets are interleaved, seed by seed and workload by
workload, and which set goes first alternates from seed to seed, so a
host that slows down or speeds up during the record moves both sets alike.
Each run also records the share of CPU time the host stole from this
machine while it ran.  One traced run per workload (seed 1) adds its
per-layer metrics as they are.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SEEDS = range(1, 11)
SETS = 2
TRACE_SEED = 1


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks of the machine since boot."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0, ticks0 = time.monotonic(), cpu_ticks()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=900)
    wall = time.monotonic() - t0
    ticks1 = cpu_ticks()
    steal = (ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0])
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    if result is None:
        sys.stderr.write(proc.stdout[-2000:] + proc.stderr[-4000:])
    return {"seed": seed, "exit": proc.returncode, "wall_s": wall,
            "steal_share": steal,
            "summary": lines[-2] if len(lines) > 1 else "", "result": result}


def spread(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)  # med is the median
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf")}


def worse_by(first: float, second: float, better: str) -> float:
    """How much worse ``second`` is than ``first``, as a share of it."""
    if not first:
        return 0.0 if second == first else float("inf")
    change = (second - first) / first
    return change if better == "lower" else -change


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--out", required=True)
    args = p.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = [w["name"] for w in spec["workloads"]]
    runs = {w: [[] for _ in range(SETS)] for w in workloads}
    for i, seed in enumerate(SEEDS):
        for w in workloads:
            for s in range(SETS) if i % 2 == 0 else reversed(range(SETS)):
                r = run_once(w, seed, spec["run_seconds"], 0)
                runs[w][s].append(r)
                print(f"set {s + 1} seed {seed} {w}: exit {r['exit']} "
                      f"{r['wall_s']:.1f} s steal {r['steal_share']:.3f}  "
                      f"{r['summary']}", flush=True)

    record = {
        "machine": {"cores": len(os.sched_getaffinity(0)),
                    "cpu": _cpu_model(), "python": platform.python_version()},
        "run_seconds": spec["run_seconds"],
        "seeds": list(SEEDS),
        "workloads": {},
    }
    unresolved = []
    for w in workloads:
        sets = runs[w]
        entry = {"run_wall_s": [[r["wall_s"] for r in rs] for rs in sets],
                 "steal_share": [[r["steal_share"] for r in rs] for rs in sets],
                 "failed_runs": [[r["seed"] for r in rs if r["result"] is None
                                  or not r["result"]["correct"]] for rs in sets],
                 "metrics": {}}
        if any(entry["failed_runs"]):
            unresolved.append(f"{w}: failed runs {entry['failed_runs']}")
        for m in spec["end_to_end"]:
            name = m["name"]
            per_set = []
            for rs in sets:
                values = [r["result"]["metrics"][name]["value"] for r in rs
                          if r["result"] is not None]
                per_set.append({"values": values, **spread(values)})
            row = {"unit": m["unit"], "bound": m["bound"], "sets": per_set,
                   "second_worse_by": worse_by(per_set[0]["median"],
                                               per_set[1]["median"],
                                               m["better"])}
            for i, ps in enumerate(per_set):
                if ps["spread"] > m["bound"]:
                    unresolved.append(f"{w} {name}: set {i + 1} spread "
                                      f"{ps['spread']:.3f} > {m['bound']}")
            if row["second_worse_by"] > m["bound"]:
                unresolved.append(f"{w} {name}: set 2 worse by "
                                  f"{row['second_worse_by']:.3f} > {m['bound']}")
            entry["metrics"][name] = row
        r = run_once(w, TRACE_SEED, spec["run_seconds"], 1)
        entry["traced"] = {"seed": TRACE_SEED, "wall_s": r["wall_s"],
                           "exit": r["exit"],
                           "metrics": r["result"] and {
                               k: v["value"] for k, v in
                               r["result"]["metrics"].items()}}
        record["workloads"][w] = entry
    record["unresolved"] = unresolved
    with open(args.out, "w") as f:
        json.dump(record, f, indent=1)
        f.write("\n")
    for w, entry in record["workloads"].items():
        for name, row in entry["metrics"].items():
            print(f"{w:13s} {name:12s} " + "  ".join(
                f"median {ps['median']:.4g} spread {ps['spread']:.3f}"
                for ps in row["sets"])
                + f"  A-vs-A worse by {row['second_worse_by']:+.3f}"
                + f"  bound {row['bound']}")
    for line in unresolved:
        print("UNRESOLVED:", line)
    return 1 if unresolved else 0


def _cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor()


if __name__ == "__main__":
    sys.exit(main())
