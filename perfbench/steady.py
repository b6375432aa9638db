"""Steadiness check: run workloads repeatedly and compare each
end-to-end metric's spread with its bound in BENCHMARK.json.

    python3 perfbench/run.py --steady --runs 10 --seconds 20 [--workloads a,b] [--trace 1]

Each run is a child process ``run.py --workload W --seed S`` with a
new seed (1000 + run index). For every metric the report gives the
median, the quartiles (``statistics.quantiles(values, n=4)``) and the
spread ``(q3 - q1) / median``; a spread above a third of the metric's
bound is marked ``WIDE``, above the bound ``FAIL`` (``setup_s`` is
reported but not judged). With ``--trace 1`` it also runs one traced
run per workload and prints its tracing overhead.
The last stdout line is a JSON summary.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _one(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    for line in proc.stderr.splitlines():
        if line.startswith(("[perfbench] setup", "[perfbench] pass")):
            print(line[:240], file=sys.stderr, flush=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(lines[-1])


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main(args) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    summary: dict = {}
    ok = True
    for w in names:
        runs = []
        for i in range(args.runs):
            r = _one(w, 1000 + i, args.seconds, 0)
            runs.append(r)
            print(f"[steady] {w} seed {1000 + i}: correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']} "
                  + " ".join(f"{k}={v['value']:.4f}" for k, v in r["metrics"].items()),
                  file=sys.stderr, flush=True)
        attempted = sum(r["attempted"] for r in runs)
        failed = sum(r["failed"] for r in runs)
        rows = {"failed_frac": failed / attempted}
        print(f"\n{w}: {args.runs} runs, failed_frac {failed}/{attempted}", file=sys.stderr)
        for m, bound in bounds.items():
            med, q1, q3, sp = spread([r["metrics"][m]["value"] for r in runs])
            verdict = "ok"
            if m != "setup_s":
                verdict = "FAIL" if sp > bound else "WIDE" if sp > bound / 3 else "ok"
            ok &= verdict != "FAIL" and failed == 0
            rows[m] = {"median": med, "q1": q1, "q3": q3, "spread": sp, "bound": bound, "verdict": verdict}
            print(f"  {m:<12} median {med:10.4f}  q1 {q1:10.4f}  q3 {q3:10.4f}  "
                  f"spread {sp:6.3f}  bound {bound:5.3f}  {verdict}", file=sys.stderr)
        if args.trace:
            t = _one(w, 1000, args.seconds, 1)
            rows["trace.overhead_s"] = t["metrics"]["trace.overhead_s"]["value"]
            rows["unattributed_jobs"] = t["metrics"]["unattributed_jobs"]["value"]
            print(f"  tracing overhead {rows['trace.overhead_s']:.4f} s, "
                  f"unattributed jobs {rows['unattributed_jobs']}", file=sys.stderr)
        summary[w] = rows
    print(json.dumps({"ok": ok, "workloads": summary}))
    return 0 if ok else 1
