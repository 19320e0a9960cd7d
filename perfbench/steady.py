"""Run-to-run steadiness of the benchmark.

    python3 perfbench/steady.py --workload etl --runs 10 [--first-seed 1]
        [--seconds S] [--trace-overhead]

Runs ``perfbench/run.py`` once per seed (seeds ``first-seed`` ..
``first-seed + runs - 1``), one run at a time, and prints for every metric
the median, the quartiles (``statistics.quantiles(n=4)``), the quartile
spread and (max - min) as shares of the median. End-to-end metrics are
marked ``ok`` when their quartile spread is below a third of their bound in
BENCHMARK.json (``setup_s`` is shown but its spread is not judged).

The per-run lines show how long each run warmed up (the rule is
``stats.settled``) and the share of the machine's CPU time the host stole
during it, which explains most slow runs on a shared host.

``--trace-overhead`` also makes the same runs with ``--trace 1`` and prints
traced minus untraced medians of the end-to-end values.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

from perfbench import stats  # noqa: E402

BENCHMARK = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def one_run(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict]:
    """(result line, detail) of one benchmark run."""
    cmd = [
        sys.executable, str(HERE / "run.py"),
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace),
    ]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    return json.loads(lines[-1]), json.loads(lines[-2])["detail"]


def table(values: dict[str, list[float]], bounds: dict[str, float]) -> None:
    print(f"{'metric':34} {'median':>12} {'q1':>12} {'q3':>12} {'iqr/med':>8} {'rng/med':>8}")
    for name, vals in values.items():
        s = stats.spread(vals)
        verdict = ""
        if name in bounds and name != "setup_s":
            verdict = "ok" if s["iqr_share"] < bounds[name] / 3 else f"WIDE (bound/3 = {bounds[name] / 3:.3f})"
        print(
            f"{name:34} {s['median']:12.4f} {s['q1']:12.4f} {s['q3']:12.4f} "
            f"{s['iqr_share']:8.4f} {s['range_share']:8.4f} {verdict}"
        )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=BENCHMARK["run_seconds"])
    ap.add_argument("--trace-overhead", action="store_true")
    args = ap.parse_args(argv)

    bounds = {m["name"]: m["bound"] for m in BENCHMARK["end_to_end"]}
    traces = (0, 1) if args.trace_overhead else (0,)
    e2e: dict[int, dict[str, list[float]]] = {t: {} for t in traces}
    layer: dict[str, list[float]] = {}
    ingest_ms: list[float] = []
    failed = attempted = 0
    for seed in range(args.first_seed, args.first_seed + args.runs):
        for trace in traces:
            res, detail = one_run(args.workload, seed, args.seconds, trace)
            attempted += res["attempted"]
            failed += res["failed"]
            for name, value in detail["end_to_end"].items():
                e2e[trace].setdefault(name, []).append(value)
            if trace:
                for name, m in res["metrics"].items():
                    layer.setdefault(name, []).append(m["value"])
            if not trace:
                ingest_ms += detail.get("ingest_ms", [])
            warm = {k: v for k, v in detail.items() if "warmup" in k}
            print(
                f"seed {seed} trace {trace}: correct={res['correct']} "
                f"host steal {detail['host_steal_share']:.1%} warm-up {json.dumps(warm)}",
                flush=True,
            )
            print(f"  end-to-end {json.dumps(detail['end_to_end'])}", flush=True)

    print(f"\n{args.workload}: {args.runs} runs, {attempted} operations, {failed} failed")
    print("\nend-to-end, untraced")
    table(e2e[0], bounds)
    # one run has too few blobs for a tail; the runs' samples pooled do
    pooled = stats.tail(ingest_ms)
    if pooled:
        print(
            f"\ningest latency pooled over runs: p50 {stats.median(ingest_ms):.1f} ms, "
            f"p{pooled[0]} {pooled[1]:.1f} ms, n={len(ingest_ms)}"
        )
    if args.trace_overhead:
        print("\nend-to-end, traced")
        table(e2e[1], bounds)
        print("\ntracing overhead (traced median - untraced median)")
        for name in e2e[0]:
            t0, t1 = stats.median(e2e[0][name]), stats.median(e2e[1][name])
            print(f"{name:34} {t1 - t0:12.4f} ({(t1 - t0) / t0:+.2%})")
        print("\nper-layer (traced runs)")
        table(layer, {})
    return 0


if __name__ == "__main__":
    sys.exit(main())
