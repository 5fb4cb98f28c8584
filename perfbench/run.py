"""Benchmark entry point.

    python3 perfbench/run.py --workload {query,ingest,build,dismax} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. Starts one fresh process for the
workload (``workloads.py``) with the checkout first on ``PYTHONPATH`` of
the driver and of Spark's Python workers, and with every scratch file
(indexes, corpus, ``spark.local.dir``, temp files) under
``.perfbench/work`` of the checkout, wiped before and after the run.
While it runs, the summed resident memory of its process tree (driver,
JVM, PySpark daemon and Python workers) is sampled every 0.2 s. The last line of stdout is
the result: ``{"correct", "attempted", "failed", "metrics"}``; the line
before it is the workload's full report (every metric it measured, with
sample counts). Exits non-zero, without a result line, when the package
is missing from the checkout or the run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
TIMEOUT_S = 170.0
SAMPLE_S = 0.2
PAGE = os.sysconf("SC_PAGE_SIZE")


def scan() -> dict[int, tuple[int, int, int, str]]:
    """pid -> (parent pid, process group, RSS bytes, command name)."""
    out = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                head, tail = f.read().rsplit(")", 1)
            fields = tail.split()
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * PAGE
        except (OSError, IndexError, ValueError):
            continue
        out[int(pid)] = (int(fields[1]), int(fields[2]), rss,
                         head.split("(", 1)[1])
    return out


def cmdline(pid: int) -> bytes | None:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read()
    except OSError:
        return None


def tree_rss(procs: dict, members: list[int]) -> int:
    """Summed RSS of ``members``. A child of the JVM that still runs the
    JVM's command line is the JVM starting a program (a task thread
    spawning a process): until it execs, it shares the JVM's memory and
    would count the JVM twice."""
    total = 0
    for p in members:
        parent = procs[p][0]
        if (procs.get(parent, (0, 0, 0, ""))[3] == "java"
                and cmdline(p) in (None, cmdline(parent))):
            continue
        total += procs[p][2]
    return total


def tree(procs: dict, root: int) -> list[int]:
    """``root`` and all its descendants."""
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out.append(pid)
            todo.extend(kids.get(pid, []))
    return out


def stop_groups(groups: set[int]) -> None:
    """Kill every process in ``groups`` and wait until none is left. The
    PySpark daemon moves itself and its workers into a group of their own,
    so the run's processes span several groups. Their scratch files are
    removed with the work directory."""
    for g in groups:
        try:
            os.killpg(g, signal.SIGKILL)
        except ProcessLookupError:
            pass
    end = time.monotonic() + 30.0
    while time.monotonic() < end:
        if not any(v[1] in groups for v in scan().values()):
            return
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["query", "ingest", "build", "dismax"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "marc_solr_profiling_spark",
                                       "__init__.py")):
        print(f"no marc_solr_profiling_spark package under {root}",
              file=sys.stderr)
        return 2
    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, "work")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    out = os.path.join(work, "result.json")

    # local[k], k <= nproc (capped at 4 so runs are comparable across hosts
    # with more cores)
    cpus = max(1, min(4, len(os.sched_getaffinity(0))))
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(
            [root] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep)
                      if p]),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_DRIVER_MEM": "1g",
        "SPARK_GRAFT_CPUS": str(cpus),
        "TMPDIR": os.path.join(work, "tmp"),
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData "
                             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    env.pop("PYSPARK_DRIVER_PYTHON", None)
    cmd = [sys.executable, os.path.join(HERE, "workloads.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cpus", str(cpus), "--root", root, "--work", work,
           "--trace-dir", os.path.join(base, "traces"), "--out", out]
    child = subprocess.Popen(cmd, env=env, cwd=root, start_new_session=True)
    peak = 0
    groups = {child.pid}
    deadline = time.monotonic() + TIMEOUT_S
    try:
        while child.poll() is None:
            if time.monotonic() > deadline:
                print(f"run exceeded {TIMEOUT_S:.0f} s", file=sys.stderr)
                break
            procs = scan()
            members = tree(procs, child.pid)
            groups.update(procs[p][1] for p in members)
            peak = max(peak, tree_rss(procs, members))
            time.sleep(SAMPLE_S)
    finally:
        stop_groups(groups)
        child.wait()
    rc = child.returncode
    result = None
    if rc == 0 and os.path.isfile(out):
        with open(out) as f:
            result = json.load(f)
    shutil.rmtree(work, ignore_errors=True)
    if result is None:
        print(f"workload process exited with {rc}", file=sys.stderr)
        return 1

    peak_mb = peak / 2 ** 20
    report = result.pop("report")
    report["peak_rss_mb"] = {"value": peak_mb, "unit": "MB"}
    failures = result.pop("failures")
    for line in failures:
        print(f"FAILED: {line}", file=sys.stderr)
    if not args.trace:
        result["metrics"]["peak_rss_mb"] = {"value": peak_mb, "unit": "MB"}
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "trace": args.trace, "report": report}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
