"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload ingest_compact --seed 1 --seconds 10 --trace 0

Each run makes a fresh directory under ``.perfbench_run/`` (inputs,
workspace, Spark local dirs, temp files), starts ``worker.py`` there
with ``SPARK_GRAFT_CPUS=$(nproc)``, and removes the directory when the
worker has ended. It prints a run record (environment, inputs,
workload-named figures) and, as the last stdout line, the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("ingest_compact", "analytics_registry")
END_TO_END_UNITS = {"setup_s": "s", "round_best_s": "s", "geomean_best_s": "s"}
#: a run must end well inside the 180 s a run is allowed
WORKER_TIMEOUT_S = 170
RUN_BASE = ".perfbench_run"


def _cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies from /proc/stat."""
    with open("/proc/stat") as fh:
        parts = [int(x) for x in fh.readline().split()[1:]]
    return sum(parts[:8]), (parts[7] if len(parts) > 7 else 0)


def _loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def _git_commit(root: str) -> str | None:
    if not os.path.exists(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    if out.returncode != 0:
        return None
    return out.stdout.strip() or None


def _tree(root: str) -> set[tuple[str, int, int]]:
    """(path, size, mtime) of every file in the checkout outside ``.git``
    and the run directories, to show that a run wrote nothing there."""
    out = set()
    for d, dirs, names in os.walk(root):
        if d == root:
            dirs[:] = [x for x in dirs if x not in (".git", RUN_BASE)]
        for n in names:
            p = os.path.join(d, n)
            st = os.lstat(p)
            out.add((os.path.relpath(p, root), st.st_size, st.st_mtime_ns))
    return out


def _stop(proc: subprocess.Popen) -> None:
    """Kill the worker's whole process group (the JVM included) and wait."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    needed = ("tailpipe_spark/__init__.py", "tools/check_correctness.py", "__spark_entry__.py")
    missing = [p for p in needed if not os.path.isfile(os.path.join(root, p))]
    if missing:
        print(f"perfbench: run from the repository root; missing {missing}", file=sys.stderr)
        return 2

    # a terminated run still stops its worker and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    cpus = len(os.sched_getaffinity(0))
    tree0 = _tree(root)
    os.makedirs(os.path.join(root, RUN_BASE), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(root, RUN_BASE))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    out_path = os.path.join(run_dir, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), root, args.workload,
           str(args.seed), str(args.seconds), str(args.trace), out_path]
    load0, (ticks0, steal0) = _loadavg(), _cpu_ticks()
    t0 = time.time()
    try:
        with open(os.path.join(run_dir, "worker.log"), "w") as log:
            proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=log,
                                    start_new_session=True)
            try:
                rc = proc.wait(timeout=WORKER_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                rc = None
            finally:
                _stop(proc)
        wall = time.time() - t0
        ticks1, steal1 = _cpu_ticks()
        if rc != 0 or not os.path.exists(out_path):
            with open(os.path.join(run_dir, "worker.log")) as fh:
                tail = fh.read()[-4000:]
            why = "timed out" if rc is None else f"exited with {rc}"
            print(f"perfbench: worker {why}\n{tail}", file=sys.stderr)
            return 1
        with open(out_path) as fh:
            rec = json.load(fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.join(root, RUN_BASE))
        except OSError:
            pass

    tree_writes = sorted({p for p, _, _ in tree0 ^ _tree(root)})
    if tree_writes:
        print(f"perfbench: the run changed files in the checkout: {tree_writes[:20]}",
              file=sys.stderr)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": cpus,
        "master": rec["master"],
        "git_commit": _git_commit(root),
        "input": rec["input"],
        "loadavg_start": load0,
        "loadavg_end": _loadavg(),
        "steal_pct": round(100.0 * (steal1 - steal0) / max(1, ticks1 - ticks0), 3),
        "wall_s": round(wall, 3),
        "end_to_end": rec["end_to_end"],
        "detail": rec["detail"],
        "failures": rec["failures"],
        "tree_writes": tree_writes[:20],
    }
    print(json.dumps({"run_record": record}))
    if args.trace:
        from worker import LAYER_UNITS

        metrics = {k: {"value": rec["per_layer"][k], "unit": u} for k, u in LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": rec["end_to_end"][k], "unit": u}
                   for k, u in END_TO_END_UNITS.items()}
    result = {
        "correct": rec["failed"] == 0 and not rec["failures"],
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
