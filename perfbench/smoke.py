"""Smoke test of the benchmark at a tiny size.

Usage (from the repository root):  python3 perfbench/smoke.py

Checks, with ``--tiny`` inputs and a one-second budget:
- an untraced run prints every end-to-end metric of BENCHMARK.json with its
  unit, and a traced run every per-layer metric;
- the traced run has spans of every layer its workload exercises, every
  Spark job of its traced cycles is attributed to a span, and the traced
  wall time not covered by a span is reported and small;
- a deliberately corrupted output (``--corrupt``) is caught: the run reports
  ``correct: false`` and exits non-zero, for each workload's oracle;
- without the engine's sources beside it the benchmark exits non-zero and
  prints no result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int, *extra: str, cwd: str = ROOT) -> tuple[int, dict | None]:
    cmd = [
        sys.executable, os.path.join(cwd, "perfbench", "run.py"),
        "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(trace), "--tiny", *extra,
    ]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    try:
        last = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        last = None
    if last is not None and "metrics" not in last:
        last = None
    return p.returncode, last


def expect(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        raise SystemExit(1)


#: the layers each workload exercises, as span-name prefixes
LAYERS = {
    "journal_client": (
        "api.", "folds.", "plans.recovery.", "codecs.", "streaming.replicator.",
        "sources.statestore.",
    ),
    "corpus_pipeline": ("functions.dedup.", "functions.similarity.", "functions.text."),
}


def check_spans(workload: str, metrics: dict) -> None:
    path = os.path.join(ROOT, ".perfbench_out", f"spans-{workload}-7.jsonl")
    names = {json.loads(l)["name"] for l in open(path)}
    missing = [p for p in LAYERS[workload] if not any(n.startswith(p) for n in names)]
    expect(not missing, f"{workload}: spans of every layer ({', '.join(missing) or 'none'} missing)")
    untagged = metrics["trace.untagged_jobs"]["value"]
    expect(untagged == 0, f"{workload}: every traced Spark job is attributed to a span ({untagged} are not)")
    wall = metrics["trace.wall_s"]["value"]
    rest = metrics["trace.unattributed_s"]["value"]
    print(f"     {workload}: traced wall {wall:.3f} s, unattributed {rest:.4f} s")
    expect(0 <= rest < 0.1 * wall, f"{workload}: unattributed remainder is under 10% of wall")


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    names = [w["name"] for w in bench["workloads"]]

    for i, wl in enumerate(names):
        # each workload runs once clean and once with a corrupted output,
        # one of the two traced
        for trace, corrupt in ((0, i % 2 == 1), (1, i % 2 == 0)):
            rc, res = run(wl, trace, *(["--corrupt"] if corrupt else []))
            tag = f"{wl} trace={trace}{' corrupt' if corrupt else ''}"
            expect(res is not None, f"{tag}: prints a result line")
            want = layer if trace else e2e
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(got == want, f"{tag}: prints every {'per-layer' if trace else 'end-to-end'} metric with its unit")
            if corrupt:
                expect(rc != 0 and not res["correct"] and res["failed"] >= 1,
                       f"{tag}: corrupted output caught (exit {rc}, failed {res['failed']})")
            else:
                expect(rc == 0 and res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                       f"{tag}: every output matches its oracle ({res['attempted']} checks)")
            if trace:
                check_spans(wl, res["metrics"])

    bare = os.path.join(ROOT, ".perfbench_tmp", "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        rc, res = run(names[0], 0, cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    expect(rc != 0 and res is None, f"without the engine: exit {rc}, no result")
    print("smoke test passed")


if __name__ == "__main__":
    main()
