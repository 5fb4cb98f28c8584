"""Repeat the benchmark over several seeds and summarize each metric.

    python3 perfbench/repeat.py --seeds 1-10 [--workloads query ingest]
        [--seconds 10] [--trace]

Run from the root of a checkout. Each run is a fresh ``run.py`` process;
workloads alternate within each seed. For every workload and metric it
prints the median, the quartiles and the spread (interquartile range as a
share of the median, as ``statistics.quantiles(values, n=4)`` gives the
quartiles), plus each run's wall time. With ``--trace`` every seed is also
run traced, and the tracing overhead per workload is reported as the
traced minus the untraced median of each end-to-end metric and of the run
wall time. The summary is printed as JSON and also written to
``.perfbench/repeat-<time>.json``.
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


def seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    t0 = time.monotonic()
    p = subprocess.run(cmd, capture_output=True, text=True)
    wall = time.monotonic() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        tail = p.stderr.strip().splitlines()[-5:]
        return {"ok": False, "wall_s": wall, "rc": p.returncode,
                "stderr": tail}
    result, report = json.loads(lines[-1]), json.loads(lines[-2])["report"]
    failures = [ln for ln in p.stderr.splitlines() if ln.startswith("FAILED")]
    return {"ok": True, "wall_s": wall, "result": result, "report": report,
            "failures": failures}


def summarize(values: list[float]) -> dict:
    if len(values) < 2:
        return {"n": len(values), "values": values}
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"n": len(values), "median": q2, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / q2 if q2 else float("nan"),
            "values": values}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", nargs="+", default=["query", "ingest"])
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()

    modes = [0, 1] if args.trace else [0]
    runs: dict[tuple[str, int], list[dict]] = {}
    for seed in seeds(args.seeds):
        for w in args.workloads:
            for trace in modes:
                r = one_run(w, seed, args.seconds, trace)
                runs.setdefault((w, trace), []).append(r)
                status = ("ok" if r["ok"] and r["result"]["correct"]
                          else "FAILED")
                print(f"{w} seed={seed} trace={trace} {status} "
                      f"{r['wall_s']:.1f}s", file=sys.stderr, flush=True)

    summary: dict = {}
    for (w, trace), rs in runs.items():
        ok = [r for r in rs if r["ok"]]
        metrics: dict[str, list[float]] = {}
        for r in ok:
            for k, v in r["result"]["metrics"].items():
                metrics.setdefault(k, []).append(v["value"])
        report: dict[str, list[float]] = {}
        for r in ok:
            for k, v in r["report"].items():
                report.setdefault(k, []).append(v["value"])
        summary[f"{w}/trace={trace}"] = {
            "runs": len(rs), "failed_runs": len(rs) - len(ok),
            "incorrect_runs": sum(not r["result"]["correct"] for r in ok),
            "wall_s": summarize([r["wall_s"] for r in rs]),
            "metrics": {k: summarize(v) for k, v in metrics.items()},
            "report": {k: summarize(v) for k, v in report.items()},
            "errors": [r["stderr"] for r in rs if not r["ok"]],
            "failures": [f for r in ok for f in r["failures"]],
        }
    if args.trace:
        for w in args.workloads:
            plain = summary[f"{w}/trace=0"]
            traced = summary[f"{w}/trace=1"]
            over = {"wall_s": traced["wall_s"].get("median", 0.0)
                    - plain["wall_s"].get("median", 0.0)}
            for k, s in plain["metrics"].items():
                t = traced["report"].get(k, {})
                if "median" in s and "median" in t:
                    over[k] = t["median"] - s["median"]
            summary[f"{w}/tracing_overhead"] = over
    os.makedirs(".perfbench", exist_ok=True)
    path = os.path.join(".perfbench",
                        f"repeat-{time.strftime('%Y%m%d-%H%M%S')}.json")
    with open(path, "w") as f:
        json.dump(summary, f, indent=1)
    print(json.dumps(summary, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
