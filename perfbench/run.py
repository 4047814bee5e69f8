#!/usr/bin/env python3
"""perfbench: the repository's benchmark (see perfbench/README.md).

  python3 perfbench/run.py --workload ingest|serve --seed N \\
      --seconds S --trace 0|1

Run from the repository root. Prints a JSON run record line, then, as
the last line, ``{"correct", "attempted", "failed", "metrics"}``:
every end-to-end metric of BENCHMARK.json untraced, every per-layer
metric traced. All scratch files live under ``.perfbench/`` in the
checkout and are removed at exit (run records are kept in
``.perfbench/records/``). Exits non-zero, printing no result, when the
engine is missing or the run crashes.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def parse_args(argv=None):
    p = argparse.ArgumentParser(prog="perfbench")
    p.add_argument("--workload", required=True, choices=["ingest", "serve"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--convs", type=int, default=None,
                   help="corpus size override (smoke test scale)")
    p.add_argument("--perturb", type=int, choices=[0, 1], default=0,
                   help="corrupt one answer before the oracle check "
                        "(smoke test of the correctness gate)")
    return p.parse_args(argv)


def metric_specs() -> tuple[list[dict], list[dict]]:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return spec["end_to_end"], spec["per_layer"]


def main(argv=None) -> int:
    args = parse_args(argv)
    # SIGTERM unwinds through the finally blocks that stop Spark and
    # the server
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.dont_write_bytecode = True
    sys.path.insert(0, str(ROOT))
    try:
        import embedanything_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    end_to_end, per_layer = metric_specs()

    records = ROOT / ".perfbench" / "records"
    work = ROOT / ".perfbench" / f"run-{os.getpid()}-{time.time_ns()}"
    (work / "tmp").mkdir(parents=True)
    records.mkdir(parents=True, exist_ok=True)
    # every temp file (the package zip get_spark ships, Spark's own
    # scratch) stays inside the checkout
    os.environ["TMPDIR"] = str(work / "tmp")
    # spark-submit's launcher JVM does not get the driver's Java options;
    # without these it writes /tmp/hsperfdata_<user>
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}")
    tempfile.tempdir = None

    import harness as H
    import workloads as W

    run_id = f"{args.workload}-{args.seed}-{'traced' if args.trace else 'untraced'}"
    tracer = H.Tracer(run_id, bool(args.trace))
    ctx = W.Context(args, ROOT, work, tracer)
    ctx.pids["driver"] = os.getpid()
    steal = H.StealMeter()
    t0 = time.time()
    crashed = None
    try:
        {"ingest": W.run_ingest, "serve": W.run_serve}[args.workload](ctx)
    except Exception:  # noqa: BLE001 - a crash is reported, not dropped
        crashed = traceback.format_exc()
        ctx.attempted += 1
        ctx.fail("crash: " + crashed.strip().splitlines()[-1])
    finally:
        if tracer.enabled and tracer.spans:
            tracer.write(records / f"{run_id}.spans.jsonl")
        shutil.rmtree(work, ignore_errors=True)

    steal_pct = steal.pct()
    host = {"nproc": H.NPROC, "ram_gb": H.ram_gb(), "steal_pct": steal_pct,
            "steal_burst": steal_pct > 5.0, **H.source_id(ROOT)}
    units = {m["name"]: m["unit"] for m in end_to_end + per_layer}
    metrics = {}
    if args.trace:
        ctx.layers.update({"host.nproc": H.NPROC, "host.ram_gb": host["ram_gb"],
                           "host.steal_pct": steal_pct})
        ctx.record["trace_overhead_pct"] = _overhead_pct(
            _cost_file(records, args, host), ctx)
        missing = [m["name"] for m in per_layer if m["name"] not in ctx.layers]
        # a layer this workload never calls did zero work
        for name in missing:
            ctx.layers[name] = 0.0
        ctx.record["layers_not_exercised"] = missing
        wanted, source = per_layer, ctx.layers
    else:
        wanted, source = end_to_end, ctx.e2e
        if "cost_s" in ctx.record and not crashed:
            _cost_file(records, args, host).write_text(json.dumps(
                {"cost_s": ctx.record["cost_s"]}))
    for m in wanted:
        if m["name"] in source:
            metrics[m["name"]] = {"value": float(source[m["name"]]),
                                  "unit": m["unit"]}
    record = {
        "run": run_id, "wall_s": time.time() - t0, "host": host,
        "attempted": ctx.attempted, "failed": ctx.failed,
        "fail_ratio": ctx.failed / max(1, ctx.attempted),
        "errors": ctx.errors, "e2e": ctx.e2e, "layers": ctx.layers,
        "units": units, "workload": ctx.record}
    line = json.dumps({"perfbench_record": record}, default=str)
    print(line)
    (records / f"{run_id}.json").write_text(line + "\n")
    if crashed:
        print(crashed, file=sys.stderr)
        return 1
    print(json.dumps({"correct": ctx.failed == 0,
                      "attempted": max(1, ctx.attempted),
                      "failed": ctx.failed, "metrics": metrics}))
    return 0


def _cost_file(records: Path, args, host: dict) -> Path:
    """Where an untraced run leaves its cost for the traced run of the
    same workload, seed and engine sources."""
    return records / (f"cost-{args.workload}-{args.seed}-"
                      f"{host['source_sha256']}.json")


def _overhead_pct(ref: Path, ctx) -> float | None:
    """Traced cost over the untraced cost of the same inputs and code,
    as a percentage; None (not available) when no such untraced run has
    been recorded in this checkout."""
    if "cost_s" not in ctx.record or not ref.exists():
        return None
    base = json.loads(ref.read_text())["cost_s"]
    return 100.0 * (ctx.record["cost_s"] / base - 1.0)


if __name__ == "__main__":
    sys.exit(main())
