"""Run the benchmark over many seeds and report how steady each metric is.

    python3 perfbench/steadiness.py --seeds 1-10 --out .perfbench/set_a.json
    python3 perfbench/steadiness.py --seeds 11-20 --out .perfbench/set_b.json
    python3 perfbench/steadiness.py --compare .perfbench/set_a.json .perfbench/set_b.json

For every workload and end-to-end metric (or, with ``--trace 1``, per-layer
metric) it reports the median of the runs and the spread: the distance
between the first and third quartile (``statistics.quantiles(n=4)``) as a
share of the median. A metric is steady when its spread is below a third
of its bound in ``BENCHMARK.json``. ``--compare`` reports, per metric,
how far the second set's median moved from the first's, against the
bound. Runs are made one after another, from the repository root, with
the ``run_seconds`` of ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [*_spec()["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    elapsed = time.perf_counter() - t0
    if proc.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} exited {proc.returncode}:\n"
                         f"{proc.stderr[-3000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    result["elapsed_s"] = elapsed
    return result


def measure(workloads: list[str], seeds: list[int], trace: int) -> dict:
    spec = _spec()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    out: dict = {"run_seconds": spec["run_seconds"], "trace": trace,
                 "seeds": seeds, "cpus": len(os.sched_getaffinity(0)),
                 "workloads": {}}
    for w in workloads:
        runs = []
        for seed in seeds:
            r = run_once(w, seed, spec["run_seconds"], trace)
            runs.append(r)
            print(f"{w} seed {seed}: {r['elapsed_s']:.1f} s, correct={r['correct']}, "
                  + ", ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                  file=sys.stderr, flush=True)
        summary = {}
        for name in runs[0]["metrics"]:
            values = [r["metrics"][name]["value"] for r in runs]
            s = spread(values) if len(values) > 1 and statistics.median(values) else 0.0
            summary[name] = {
                "median": statistics.median(values), "spread": s,
                "bound": bounds.get(name),
                "steady": None if name not in bounds else s < bounds[name] / 3,
                "values": values,
            }
        out["workloads"][w] = {
            "metrics": summary,
            "correct": all(r["correct"] for r in runs),
            "failed": sum(r["failed"] for r in runs),
            "attempted": sum(r["attempted"] for r in runs),
            "elapsed_s": [r["elapsed_s"] for r in runs],
        }
    return out


def compare(a: dict, b: dict) -> dict:
    """Per workload and metric: the second median's change as a share of
    the first, and whether it stays within the bound."""
    out = {}
    for w, wa in a["workloads"].items():
        wb = b["workloads"][w]
        for name, ma in wa["metrics"].items():
            if ma["bound"] is None:
                continue
            change = wb["metrics"][name]["median"] / ma["median"] - 1.0
            out[f"{w}/{name}"] = {"change": change, "bound": ma["bound"],
                                  "ok": change <= ma["bound"]}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default="",
                    help="comma-separated; default: every workload of BENCHMARK.json")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    ap.add_argument("--compare", nargs=2, metavar=("FIRST", "SECOND"))
    args = ap.parse_args()
    if args.compare:
        with open(args.compare[0]) as fa, open(args.compare[1]) as fb:
            result = compare(json.load(fa), json.load(fb))
    else:
        workloads = [w for w in args.workloads.split(",") if w] or \
            [w["name"] for w in _spec()["workloads"]]
        result = measure(workloads, _seeds(args.seeds), args.trace)
        for w, r in result["workloads"].items():
            for name, m in r["metrics"].items():
                print(f"{w:20s} {name:32s} median {m['median']:.4g}  "
                      f"spread {m['spread']:.3f}  bound {m['bound']}", file=sys.stderr)
    text = json.dumps(result, indent=1)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text + "\n")
    else:
        print(text)
    return 0


if __name__ == "__main__":
    sys.exit(main())
