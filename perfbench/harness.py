"""Measurement plumbing shared by the perfbench workloads.

Spans, the Spark event-log rollup, process RSS, the host record and
the Spark session lifecycle. Nothing here imports the engine except
``start_spark``, which goes through the package's public ``get_spark``.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import statistics
import subprocess
import time
from collections import defaultdict
from pathlib import Path

NPROC = len(os.sched_getaffinity(0))
# the one tuning override of get_spark's defaults, the value bench.py
# and the test suite use: Spark's default of 200 shuffle partitions
# turns every small job of this benchmark into hundreds of tasks
SHUFFLE_PARTITIONS = max(NPROC, 8)


def quantile(values, q: float) -> float:
    """Nearest-rank quantile (q in [0, 1]) of a non-empty sample."""
    s = sorted(values)
    return float(s[min(len(s) - 1, max(0, int(round(q * (len(s) - 1)))))])


# ---------------------------------------------------------------- spans

class Tracer:
    """Times the benchmark's calls into the engine.

    Untraced, a span only returns its duration. Traced, it also records
    (name, start, end, parent, run id) in memory and tags every Spark
    job started inside it with a job group ``<name>#<span id>``, so the
    event log can be rolled up per layer afterwards."""

    def __init__(self, run_id: str, enabled: bool, sc=None):
        self.run_id = run_id
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _set_group(self, group: str | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", group)
            self.sc.setLocalProperty("spark.job.description", group)

    @contextlib.contextmanager
    def span(self, name: str):
        """Yields a dict whose ``s`` is set to the span's seconds."""
        out = {"s": 0.0}
        if not self.enabled:
            t0 = time.perf_counter()
            try:
                yield out
            finally:
                out["s"] = time.perf_counter() - t0
            return
        sid = len(self.spans)
        self.spans.append({"id": sid, "name": name, "run": self.run_id,
                           "parent": self._stack[-1] if self._stack
                           else None, "start": time.perf_counter()})
        self._stack.append(sid)
        self._set_group(f"{name}#{sid}")
        try:
            yield out
        finally:
            end = time.perf_counter()
            self.spans[sid]["end"] = end
            out["s"] = end - self.spans[sid]["start"]
            self._stack.pop()
            parent = self._stack[-1] if self._stack else None
            self._set_group(None if parent is None else
                            f"{self.spans[parent]['name']}#{parent}")

    def self_seconds(self) -> dict[str, float]:
        """Per span name: Σ (duration − time covered by child spans)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    def write(self, path: Path) -> None:
        path.write_text("\n".join(json.dumps(s) for s in self.spans) + "\n")


# ----------------------------------------------------- event-log rollup

def rollup_event_log(log_dir: Path) -> dict[str, dict]:
    """Spark event log → per span name: task seconds, shuffle read and
    write MB, spill MB, stage and job counts, and job wall seconds
    (first job start to last job end per job group, summed over
    groups). Job groups are ``<span name>#<span id>``."""
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    windows: dict[str, list] = {}
    files = sorted(p for p in log_dir.rglob("*") if p.is_file()
                   and not p.name.startswith((".", "appstatus")))
    for f in files:
        with f.open() as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    gid = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id")
                    if not gid:
                        continue
                    job_group[ev["Job ID"]] = gid
                    job_start[ev["Job ID"]] = ev["Submission Time"] / 1e3
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = gid
                elif kind == "SparkListenerJobEnd":
                    gid = job_group.get(ev["Job ID"])
                    if gid is None:
                        continue
                    t0 = job_start[ev["Job ID"]]
                    t1 = ev["Completion Time"] / 1e3
                    w = windows.setdefault(gid, [t0, t1])
                    w[0], w[1] = min(w[0], t0), max(w[1], t1)
                    name = gid.split("#")[0]
                    groups[name]["jobs"] += 1
                elif kind == "SparkListenerStageCompleted":
                    gid = stage_group.get(ev["Stage Info"]["Stage ID"])
                    if gid is not None:
                        groups[gid.split("#")[0]]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    gid = stage_group.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if gid is None or not m:
                        continue
                    g = groups[gid.split("#")[0]]
                    g["task_s"] += m["Executor Run Time"] / 1e3
                    sw = m.get("Shuffle Write Metrics", {})
                    sr = m.get("Shuffle Read Metrics", {})
                    g["shuffle_write_mb"] += \
                        sw.get("Shuffle Bytes Written", 0) / 1e6
                    g["shuffle_read_mb"] += (
                        sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0)) / 1e6
                    g["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                                      + m.get("Disk Bytes Spilled", 0)) / 1e6
    for gid, (t0, t1) in windows.items():
        groups[gid.split("#")[0]]["job_wall_s"] += t1 - t0
    return {k: dict(v) for k, v in groups.items()}


# ------------------------------------------------------------ processes

def rss_hwm_mb(pid: int) -> float:
    """High-water resident set size of one live process, in MB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except FileNotFoundError:
        pass
    return 0.0


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (e.g. the JVM's Python workers)."""
    kids: dict[int, list[int]] = {}
    for d in Path("/proc").iterdir():
        if d.name.isdigit():
            try:
                ppid = int((d / "stat").read_text().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d.name))
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def stop_process(proc: subprocess.Popen, timeout: float = 20.0) -> None:
    """Terminate a child and wait until it has exited."""
    if proc.poll() is None:
        proc.terminate()
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ------------------------------------------------------------------ host

def _cpu_ticks() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


class StealMeter:
    """Steal % of all CPU ticks between construction and ``pct()``."""

    def __init__(self):
        self.s0, self.t0 = _cpu_ticks()

    def pct(self) -> float:
        s1, t1 = _cpu_ticks()
        return 100.0 * (s1 - self.s0) / max(1, t1 - self.t0)


def ram_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0 / 1024.0
    return 0.0


def source_id(root: Path) -> dict:
    """The commit when the checkout is a git repository, and always a
    content hash of the engine's sources (checkouts without .git)."""
    h = hashlib.sha256()
    for p in sorted((root / "embedanything_spark").rglob("*.py")):
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    out = {"source_sha256": h.hexdigest()[:16], "commit": None}
    try:
        out["commit"] = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
            text=True, timeout=10, check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return out


# ------------------------------------------------------------ host speed

# median time of one Calibrator.op on the reference host (a quiet 4-core
# Xeon VM, 15 GB RAM): host-normalized figures read as on that host
CAL_REF_MS = 12.0
CAL_TERMS = 5000


class Calibrator:
    """A fixed pyarrow + pandas operation that shares no code with the
    engine: scan four small parquet files for eight keys, convert to
    pandas, group. Its inputs come from a fixed seed, not the run's, so
    it is the same work in every run of every commit.

    Timed interleaved with the engine's calls, it tells how fast the
    shared host runs at that moment. ``scale`` = CAL_REF_MS ÷ its median
    converts a time measured then into the time on the reference host;
    neighbours on the machine slow both alike, so the ratio keeps still
    while the raw times drift by half between stretches of minutes."""

    def __init__(self, work: Path):
        import numpy as np
        import pyarrow as pa
        import pyarrow.dataset as pads
        import pyarrow.parquet as pq
        d = work / "calibration"
        d.mkdir(parents=True)
        rng = np.random.default_rng(0)
        for i in range(4):
            n = 20000
            pq.write_table(pa.table({
                "term": np.sort(rng.integers(0, CAL_TERMS, n)),
                "doc": rng.integers(0, 10 ** 6, n),
                "tf": rng.integers(1, 9, n).astype(np.int32),
            }), d / f"part-{i}.parquet", row_group_size=2048)
        self.dataset = pads.dataset(str(d), format="parquet")
        self.ms: list[float] = []
        self.seconds = 0.0      # Σ calibration time, kept out of windows
        self._j = 0
        for _ in range(5):      # warm-up, not recorded
            self._run()

    def _run(self) -> None:
        import pyarrow.compute as pc
        self._j = (self._j + 1) % 100
        keys = [(self._j * 37 + t) % CAL_TERMS for t in range(8)]
        (self.dataset.to_table(filter=pc.field("term").isin(keys))
         .to_pandas().groupby("term").agg({"tf": "sum", "doc": "max"}))

    def op(self) -> float:
        """Time one operation; returns and records its milliseconds."""
        t0 = time.perf_counter()
        self._run()
        dt = time.perf_counter() - t0
        self.seconds += dt
        self.ms.append(dt * 1e3)
        return dt * 1e3

    def burst(self, n: int) -> list[float]:
        return [self.op() for _ in range(n)]

    @staticmethod
    def scale(ms) -> float:
        """CAL_REF_MS ÷ the median of calibration times ``ms``."""
        return CAL_REF_MS / median(ms)

    @staticmethod
    def scale_between(before, after) -> float:
        """The scale for a phase timed between two bursts: from the
        faster burst's median. A burst right after a Spark job can run
        beside the JVM's own clean-up and read slow; a slower host
        slows both bursts."""
        return CAL_REF_MS / min(median(before), median(after))


# ----------------------------------------------------------------- spark

def spark_overrides(work: Path, trace: bool) -> dict[str, str]:
    """Settings added to ``get_spark``'s defaults besides
    SHUFFLE_PARTITIONS: keep every scratch file inside the run's work
    dir, and, traced, write an uncompressed event log there."""
    extra = {
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # UsePerfData off: the JVM would write /tmp/hsperfdata_<user>
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    }
    if trace:
        (work / "eventlog").mkdir(parents=True, exist_ok=True)
        extra.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": str(work / "eventlog"),
                      "spark.eventLog.compress": "false"})
    return extra


def start_spark(work: Path, trace: bool):
    from embedanything_spark.session import get_spark
    spark = get_spark(app="perfbench", master=f"local[{NPROC}]",
                      shuffle_partitions=SHUFFLE_PARTITIONS,
                      extra=spark_overrides(work, trace))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    # the JVM exits when its stdin closes
    with contextlib.suppress(OSError):
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        stop_process(proc)


def spark_settings(spark) -> dict[str, str]:
    skip = ("spark.app.", "spark.driver.host", "spark.driver.port",
            "spark.executor.id", "spark.submit.", "spark.repl.")
    return {k: v for k, v in sorted(spark.sparkContext.getConf().getAll())
            if not k.startswith(skip) and k != "spark.files"}


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*.parquet"))


def median(values) -> float:
    return float(statistics.median(values))
