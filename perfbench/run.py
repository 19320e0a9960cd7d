"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload of ``perfbench/workload.py`` in a child process, with every
file it writes kept under ``.bench_work/`` at the root of the checkout, and
samples the resident memory of the child's whole process tree (the Python
driver, the JVM and its Python workers) from outside. The last line of
standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json under ``--trace 0`` and the
per-layer metrics under ``--trace 1``. The line before it holds the
workload's own figures (``detail``), including the layer metrics that only
one workload exercises. Exits non-zero, printing no result, if the child
fails or the engine is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

from perfbench import proc  # noqa: E402

WORK = ROOT / ".bench_work"
BENCHMARK = json.loads((ROOT / "BENCHMARK.json").read_text()) if (ROOT / "BENCHMARK.json").exists() else {}
#: the child is killed after this long, so every run ends within 3 minutes
CHILD_TIMEOUT_S = 170


class RssSampler(threading.Thread):
    """Samples the tree's summed RSS every ``interval`` seconds; keeps the peak."""

    def __init__(self, pid: int, interval: float = 0.1) -> None:
        super().__init__(daemon=True)
        self.pid, self.interval = pid, interval
        self.peak = 0
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak = max(self.peak, proc.tree_rss_bytes(self.pid))
            self._halt.wait(self.interval)

    def stop(self) -> None:
        self._halt.set()
        self.join()


def child_env(work: Path) -> dict[str, str]:
    """Environment that keeps every file the engine writes inside ``work``
    and lets Python workers import the engine from any cwd."""
    env = dict(os.environ)
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    py_path = [str(ROOT)] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])
    env.update(
        PYTHONPATH=os.pathsep.join(py_path),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        SPARK_GRAFT_WAREHOUSE=str(work / "warehouse"),
        TMPDIR=str(tmp),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONPYCACHEPREFIX=str(WORK / "pycache"),
    )
    return env


def kill_tree(child: subprocess.Popen) -> None:
    """Stop the child's process group and wait until it is gone."""
    try:
        os.killpg(child.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    child.wait()
    # the JVM and Python workers are not our children: poll the group
    for _ in range(100):
        try:
            os.killpg(child.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def run_child(
    args: argparse.Namespace, work: Path, out: Path, log: Path
) -> tuple[int, float, float, float]:
    """Run the workload; returns (exit code, launch time, peak tree RSS in
    MB, share of the machine's CPU time stolen by the host meanwhile)."""
    cmd = [
        sys.executable,
        str(HERE / "workload.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--work", str(work),
        "--out", str(out),
    ]
    env = child_env(work)
    launched = time.time()
    env["PERFBENCH_LAUNCHED"] = repr(launched)
    steal0, total0 = proc.host_cpu_ticks()
    with open(log, "wb") as log_fh:
        child = subprocess.Popen(
            cmd,
            cwd=work,
            env=env,
            stdin=subprocess.DEVNULL,
            stdout=log_fh,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        sampler = RssSampler(child.pid)
        sampler.start()
        try:
            code = child.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = -1
        finally:
            sampler.stop()
            # the JVM and Python workers share the child's process group;
            # none may outlive the run
            kill_tree(child)
    steal1, total1 = proc.host_cpu_ticks()
    return code, launched, sampler.peak / 1e6, (steal1 - steal0) / max(total1 - total0, 1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    names = [w["name"] for w in BENCHMARK.get("workloads", [])]
    if args.workload not in names:
        print(f"unknown workload {args.workload!r}; expected one of {names}", file=sys.stderr)
        return 2
    if not (ROOT / "kusto_pre_forge_spark").is_dir():
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2

    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = WORK / "runs" / tag
    results = WORK / "results"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    results.mkdir(parents=True, exist_ok=True)
    out, log = results / f"{tag}.json", results / f"{tag}.log"
    # a terminated benchmark still stops its process tree (run_child's
    # finally) and removes its data
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        code, launched, peak_mb, steal = run_child(args, work, out, log)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not out.exists():
        sys.stderr.write(log.read_text(errors="replace")[-4000:])
        print(f"workload process failed (exit {code}); log: {log}", file=sys.stderr)
        return 1

    res = json.loads(out.read_text())
    e2e = dict(res["e2e"])
    e2e["setup_s"] = res["first_op_wall"] - launched
    e2e["peak_rss_mb"] = peak_mb
    layer = dict(res["layer"], **{"process.peak_rss_mb": peak_mb})
    units = {
        m["name"]: m["unit"]
        for m in BENCHMARK["end_to_end"] + BENCHMARK["per_layer"]
    }
    section = "per_layer" if args.trace else "end_to_end"
    values = layer if args.trace else e2e
    missing = [m["name"] for m in BENCHMARK[section] if m["name"] not in values]
    if missing:
        print(f"workload reported no value for {missing}", file=sys.stderr)
        return 1
    metrics = {
        m["name"]: {"value": values[m["name"]], "unit": units[m["name"]]}
        for m in BENCHMARK[section]
    }
    detail = dict(
        res["detail"], setup=res["setup"], end_to_end=e2e, errors=res["errors"], host_steal_share=steal
    )
    print(json.dumps({"detail": detail}, default=str))
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
