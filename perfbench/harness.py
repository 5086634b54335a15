"""Measurement machinery shared by the workloads.

All of it sits outside the program under test: it times calls into the
program's public functions and reads Spark's public status APIs
(job groups, ``statusTracker()``, the application status store and
streaming progress). Nothing here changes what the program computes.
"""

from __future__ import annotations

import calendar
import datetime as dt
import gc
import math
import os
import signal
import statistics
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

#: Spark status-store fields summed per op into the ``spark.*`` metrics.
STAGE_FIELDS = {
    "tasks": "numCompleteTasks",
    "executor_run_ms": "executorRunTime",
    "executor_cpu_ms": "executorCpuTime",  # ns in the store
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": "diskBytesSpilled",
    "jvm_gc_ms": "jvmGcTime",
}


# ------------------------------------------------------------------ tracing
class Tracer:
    """In-memory span recorder. Spans carry name, start, end, parent and
    op id, plus counters recorded at the same boundary. Disabled, it
    records nothing and ``span`` costs one attribute test."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def _record(self, name: str, op):
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = parent["op"]
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op,
            "start": time.perf_counter(),
            "end": None,
            "counters": {},
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def span(self, name: str, op=None):
        if not self.enabled:
            return nullcontext()
        return self._record(name, op)

    def count(self, key: str, value: float) -> None:
        """Add ``value`` to counter ``key`` of the innermost open span."""
        if self.enabled and self._stack:
            c = self._stack[-1]["counters"]
            c[key] = c.get(key, 0) + value

    def self_times(self, spans: list[dict]) -> dict[int, float]:
        """Span id -> self time in seconds: the span's duration minus the
        part of it its children cover (children never overlap: one
        thread records them in sequence)."""
        child = {s["id"]: 0.0 for s in spans}
        for s in spans:
            if s["parent"] in child:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in spans}


def check_nesting(spans: list[dict]) -> list[str]:
    """Spans whose interval is not inside their parent's."""
    by_id = {s["id"]: s for s in spans}
    bad = []
    for s in spans:
        p = by_id.get(s["parent"])
        if p is not None and not (p["start"] <= s["start"] <= s["end"] <= p["end"]):
            bad.append(f"{s['name']}#{s['id']} escapes {p['name']}#{p['id']}")
    return bad


# ------------------------------------------------------------------ spark status
class SparkLedger:
    """Jobs, stages and task metrics per job group, read from the
    application status store (works with the UI disabled)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def flush(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds all finished jobs."""
        self._jsc.listenerBus().waitUntilEmpty()

    def totals(self, groups: list[str]) -> dict[str, float]:
        """Job/stage/task totals over every job of ``groups``. Stages a
        job skipped (reused shuffle output) are not counted."""
        out = {"jobs": 0, "stages": 0, **{k: 0 for k in STAGE_FIELDS}}
        store = self._jsc.statusStore()
        tracker = self.sc.statusTracker()
        for g in groups:
            for jid in tracker.getJobIdsForGroup(g):
                out["jobs"] += 1
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else []:
                    sd = store.lastStageAttempt(sid)
                    if sd.status().toString() != "COMPLETE":
                        continue
                    out["stages"] += 1
                    for k, getter in STAGE_FIELDS.items():
                        out[k] += getattr(sd, getter)()
        out["executor_cpu_ms"] /= 1e6
        return out


def scanned_files(df) -> list[int]:
    """Files read by each parquet scan of ``df``'s executed plan (the
    scan node's ``numFiles`` metric, after partition pruning)."""
    files = []
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if kind == "FileSourceScanExec":
            m = node.metrics().get("numFiles")
            files.append(m.get().value() if m.isDefined() else 0)
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return files


# ------------------------------------------------------------------ host
def canary(spark) -> tuple[float, float]:
    """Fixed work independent of the program: a JVM range-sum over all
    cores and a single-thread Python loop, in ms. A drifting run shows
    here; end-to-end metrics are never normalised by it."""
    t0 = time.perf_counter()
    spark.range(0, 20_000_000, 1, spark.sparkContext.defaultParallelism).selectExpr(
        "sum(id * 7 % 1000)"
    ).collect()
    jvm = (time.perf_counter() - t0) * 1e3
    t0 = time.perf_counter()
    x = 0
    for i in range(500_000):
        x += i * 31 % 97
    py = (time.perf_counter() - t0) * 1e3
    return jvm, py


def full_gc(spark) -> None:
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


# ------------------------------------------------------------------ session
def start_session(root: str, cpus: int):
    """Start the engine's session with every scratch path under ``root``.
    Returns ``(spark, seconds)``."""
    from boostdb_spark.session import get_spark

    os.environ["BOOST_DRIVER_MEM"] = "2g"
    # No hsperfdata files in the system temp dir, for the launcher JVM
    # as well as the Spark driver JVM.
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    jtmp = os.path.join(root, "jvm-tmp")
    os.makedirs(jtmp, exist_ok=True)
    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(root, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
            # A fixed young generation: heap growth, and with it peak
            # RSS, then follows allocation instead of G1's pause-time
            # heuristics, which vary from run to run.
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={jtmp} -XX:NewSize=192m -XX:MaxNewSize=192m"
            ),
        },
    )
    spark.range(1).collect()
    return spark, time.perf_counter() - t0


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    kids = [int(k) for k in f.read().split()]
                out += kids
                todo += kids
        except FileNotFoundError:  # exited while we looked
            pass
    return out


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except FileNotFoundError:
        return False


def stop_session(spark) -> None:
    """Stop Spark, then wait for the JVM and the Python workers it
    started to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else []
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
        deadline = time.monotonic() + 30
        for pid in workers:
            while _running(pid) and time.monotonic() < deadline:
                time.sleep(0.05)
            if _running(pid):
                os.kill(pid, signal.SIGKILL)


@contextmanager
def conf_set(spark, values: dict[str, str]):
    """Set session conf keys for the block; restore each one (or unset
    it) on exit, also when the block raises."""
    old = {}
    for k, v in values.items():
        old[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# ------------------------------------------------------------------ ops
@dataclass
class Op:
    """One unit of work a workload times: a query, a drain, a drain's
    micro-batch, a compaction."""

    op_id: str
    cls: str
    spec: dict = field(default_factory=dict)
    latency_ms: float | None = None
    wall_ms: float | None = None
    result: object = None
    error: str | None = None
    problems: list[str] = field(default_factory=list)
    groups: list[str] = field(default_factory=list)
    df: object = None

    @property
    def ok(self) -> bool:
        return self.error is None and not self.problems


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# ------------------------------------------------------------------ checks
def _norm(v):
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return calendar.timegm(v.timetuple()) * 1_000_000 + v.microsecond
    if hasattr(v, "item"):  # numpy / pandas scalars
        v = v.item()
        return _norm(v)
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def norm_rows(rows) -> list[tuple]:
    return [tuple(_norm(v) for v in r) for r in rows]


def _sort_key(row):
    return tuple((v is not None, v if v is not None else 0) for v in row)


def compare_rows(got, want, ordered: bool = False) -> list[str]:
    """Compare two row lists; floats within 1e-9 relative. Returns
    mismatch descriptions (empty = equal)."""
    a, b = norm_rows(got), norm_rows(want)
    if len(a) != len(b):
        return [f"row count {len(a)} != {len(b)}"]
    if not ordered:
        a, b = sorted(a, key=_sort_key), sorted(b, key=_sort_key)
    for i, (x, y) in enumerate(zip(a, b)):
        if len(x) != len(y):
            return [f"row {i}: width {len(x)} != {len(y)}"]
        for u, v in zip(x, y):
            if isinstance(u, float) or isinstance(v, float):
                if u is None or v is None or not math.isclose(
                    u, v, rel_tol=1e-9, abs_tol=1e-12
                ):
                    return [f"row {i}: {x} != {y}"]
            elif u != v:
                return [f"row {i}: {x} != {y}"]
    return []
