"""Reference artifacts: the traced run, the local[1] run and the spread.

    python3 perfbench/report.py traced --seed 1
    python3 perfbench/report.py local1 --seed 1
    python3 perfbench/report.py spread --seeds 101-110

``traced`` runs every workload (the gated ones and the reference ones) untraced
and traced on the same seed and writes ``perfbench/results/traced.json``:
the per-layer metrics of the traced run and, per end-to-end metric, traced
minus untraced (the tracing overhead). ``local1`` runs ``eos_64k`` and
``corpus_x10`` on ``local[1]`` and writes ``results/local1.json``, the
single-threaded baseline that parallelism claims are read against.
``spread`` runs every workload ``BENCHMARK.json`` gates once per seed and
writes ``results/spread.json``: each end-to-end metric's values, median,
quartiles and spread ((Q3 - Q1) / median, as ``statistics.quantiles(n=4)``
gives them) next to its bound, and each run's wall time. None of them
gates anything. Every run measures ``BENCHMARK.json``'s ``run_seconds``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULTS = os.path.join(HERE, "results")
sys.path.insert(0, HERE)

from run import WORK, WORKLOADS  # noqa: E402


def bench(workload: str, seed: int, seconds: int, trace: int,
          cpus: int | None = None) -> dict:
    """One ``run.py`` process; its full result (``--out``) plus wall time.
    ``cpus`` None: ``run.py``'s default ``local[N]`` slots."""
    os.makedirs(WORK, exist_ok=True)
    out = os.path.join(WORK, f"report-{workload}-s{seed}-t{trace}-c{cpus}.json")
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
           "--out", out] + (["--cpus", str(cpus)] if cpus else [])
    t = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    wall = time.perf_counter() - t
    if not os.path.exists(out):
        raise RuntimeError(f"{' '.join(cmd)} failed:\n{proc.stderr[-2000:]}")
    with open(out) as fh:
        result = json.load(fh)
    os.remove(out)
    result["wall_s"] = wall
    print(f"{workload} seed={seed} trace={trace} cpus={result['cpus']} "
          f"correct={result['correct']} wall={wall:.1f}s", flush=True)
    return result


def write(name: str, doc: dict) -> None:
    os.makedirs(RESULTS, exist_ok=True)
    with open(os.path.join(RESULTS, name), "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
        fh.write("\n")


def traced(a) -> None:
    doc = {}
    for w in WORKLOADS:
        plain = bench(w, a.seed, a.seconds, 0)
        tr = bench(w, a.seed, a.seconds, 1)
        doc[w] = {
            "cpus": plain["cpus"],
            "untraced_end_to_end": plain["end_to_end"],
            "traced_end_to_end": tr["end_to_end"],
            "tracing_overhead": {
                k: tr["end_to_end"][k] - v for k, v in plain["end_to_end"].items()
            },
            "per_layer": tr["per_layer"],
            "notes": tr["notes"],
            "correct": plain["correct"] and tr["correct"],
        }
    write("traced.json", {"seed": a.seed, "seconds": a.seconds, "workloads": doc})


def local1(a) -> None:
    doc = {w: bench(w, a.seed, a.seconds, 0, 1) for w in ("eos_64k", "corpus_x10")}
    write("local1.json", {"seed": a.seed, "seconds": a.seconds, "cpus": 1,
                          "workloads": doc})


def spread(a) -> None:
    lo, hi = (int(x) for x in a.seeds.split("-"))
    bounds = {m["name"]: m["bound"] for m in a.bench["end_to_end"]}
    doc = {}
    for w in (w["name"] for w in a.bench["workloads"]):
        runs = [bench(w, s, a.seconds, 0) for s in range(lo, hi + 1)]
        metrics = {}
        for name, bound in bounds.items():
            values = [r["end_to_end"][name] for r in runs]
            q1, med, q3 = statistics.quantiles(values, n=4)
            metrics[name] = {"values": values, "q1": q1, "median": med, "q3": q3,
                             "spread": (q3 - q1) / med, "bound": bound}
        doc[w] = {"metrics": metrics, "cpus": runs[0]["cpus"],
                  "correct": all(r["correct"] for r in runs),
                  "wall_s": [r["wall_s"] for r in runs]}
    write("spread.json", {"seeds": a.seeds, "seconds": a.seconds, "workloads": doc})


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("what", choices=("traced", "local1", "spread"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seeds", default="101-110", help="spread: seed range LO-HI")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        a.bench = json.load(fh)
    a.seconds = a.bench["run_seconds"]
    {"traced": traced, "local1": local1, "spread": spread}[a.what](a)


if __name__ == "__main__":
    main()
