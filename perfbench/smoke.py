#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at a tiny scale (300 convs).

  python3 perfbench/smoke.py

For each workload: an untraced run must print every end-to-end metric
with its unit and pass the correctness gate; a traced run must print
every per-layer metric; a run that corrupts one answer inside the
benchmark (``--perturb 1``) must fail the gate and raise ``failed``.
Finally the benchmark must exit non-zero, printing no result, from a
directory that holds only BENCHMARK.json and perfbench/. Exits 0 when
every check holds.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(cwd: Path, *args: str) -> tuple[int, dict | None]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "1", "--seconds",
         "1", "--convs", "300", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    try:
        last = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        last = None
    if last is not None and "correct" not in last:
        last = None
    return p.returncode, last


def expect(ok: bool, what: str, failures: list[str]) -> None:
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        failures.append(what)


def main() -> int:
    failures: list[str] = []
    for w in [x["name"] for x in SPEC["workloads"]]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            rc, res = run(ROOT, "--workload", w, "--trace", str(trace))
            want = {m["name"]: m["unit"] for m in SPEC[key]}
            got = {} if res is None else {
                k: v["unit"] for k, v in res["metrics"].items()}
            expect(rc == 0 and res is not None and res["correct"]
                   and res["failed"] == 0,
                   f"{w} trace={trace}: exit 0, gate passes", failures)
            expect(got == want,
                   f"{w} trace={trace}: every {key} metric, by unit",
                   failures)
            if trace == 0 and res is not None:
                expect(all(v["value"] > 0 for v in res["metrics"].values()),
                       f"{w}: every end-to-end metric is non-zero",
                       failures)
        rc, res = run(ROOT, "--workload", w, "--trace", "0", "--perturb", "1")
        expect(rc == 0 and res is not None and not res["correct"]
               and res["failed"] >= 1,
               f"{w}: one perturbed answer fails the gate "
               f"(failed={None if res is None else res['failed']})",
               failures)

    bare = ROOT / ".perfbench" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(ROOT / "perfbench", bare / "perfbench")
    rc, res = run(bare, "--workload", "ingest", "--trace", "0")
    shutil.rmtree(bare, ignore_errors=True)
    expect(rc != 0 and res is None,
           "without the engine: non-zero exit, no result", failures)
    print("smoke:", "FAILED " + str(failures) if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
