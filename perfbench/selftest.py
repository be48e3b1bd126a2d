"""Self-test of the benchmark at tiny input sizes.

    python3 perfbench/selftest.py [workload ...]

For each workload (default: those in BENCHMARK.json) it runs the benchmark
untraced and traced on tiny inputs and checks that

1. every metric BENCHMARK.json names is printed, with its unit;
2. a tampered expected row count, row hash or float-column sum each makes
   the fail rate > 0 (first workload);
3. every traced span's parent exists and shares its operation id.

Exits 1 and lists the problems when any check fails.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int, *extra: str) -> tuple[dict, dict]:
    """(context, result) of one tiny benchmark run."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny", *extra]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{' '.join(cmd)} exited {out.returncode}:\n{out.stderr[-3000:]}")
    return json.loads(lines[-2])["context"], json.loads(lines[-1])


def metric_problems(result: dict, spec: list[dict], label: str) -> list[str]:
    bad = []
    got = result.get("metrics", {})
    for m in spec:
        entry = got.get(m["name"])
        if entry is None:
            bad.append(f"{label}: metric {m['name']} missing")
        elif entry.get("unit") != m["unit"] or not isinstance(entry.get("value"), (int, float)):
            bad.append(f"{label}: metric {m['name']} printed as {entry}")
    extra = set(got) - {m["name"] for m in spec}
    if extra:
        bad.append(f"{label}: metrics not in BENCHMARK.json: {sorted(extra)}")
    return bad


def span_problems(spans: list[dict], label: str) -> list[str]:
    by_id = {s["id"]: s for s in spans}
    bad = []
    for s in spans:
        if s["parent"] is None:
            continue
        parent = by_id.get(s["parent"])
        if parent is None:
            bad.append(f"{label}: span {s['id']} {s['name']} has no parent {s['parent']}")
        elif parent["op"] != s["op"]:
            bad.append(f"{label}: span {s['id']} {s['name']} op {s['op']} "
                       f"!= parent op {parent['op']}")
    if not any(s["op"] is not None for s in spans):
        bad.append(f"{label}: no operation spans recorded")
    return bad


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = argv or [w["name"] for w in spec["workloads"]]
    problems = []
    for i, wl in enumerate(workloads):
        ctx, res = run(wl, 0)
        problems += metric_problems(res, spec["end_to_end"], f"{wl} trace 0")
        if res["failed"] or not res["correct"]:
            problems.append(f"{wl}: {res['failed']} of {res['attempted']} operations failed")
        ctx, res = run(wl, 1)
        problems += metric_problems(res, spec["per_layer"], f"{wl} trace 1")
        with open(os.path.join(ROOT, ctx["run_dir"], "spans.json")) as fh:
            problems += span_problems(json.load(fh), f"{wl} spans")
        for part in ("n", "h", "float") if i == 0 else ():
            ctx, res = run(wl, 0, "--tamper", part)
            if not (ctx["fail_rate"] and ctx["fail_rate"] > 0) or res["correct"]:
                problems.append(f"{wl}: a tampered {part!r} did not fail (context {ctx})")
        print(f"# {wl}: checked", file=sys.stderr)
    for p in problems:
        print(p)
    print("selftest:", "FAIL" if problems else "ok")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
