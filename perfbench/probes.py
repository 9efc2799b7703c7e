"""Outside-in probes: ``/proc`` for the process tree, Spark's status
store for jobs, stages and tasks, plan text for plan shape, and timed
calls into the engine's kernels.

Every probe is advisory. One that fails returns nothing, and the
metrics it would have given are left out of the result; it never
fails a run.
"""

from __future__ import annotations

import os
import re
import statistics
import threading
import time
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")


def advisory(fn, default=None):
    """Run a probe; any failure yields *default*, never an error."""
    try:
        return fn()
    except Exception:  # noqa: BLE001 - probes must not fail a run
        return default


def _read(path: str) -> str:
    with open(path) as f:
        return f.read()


def _kind(pid: int, root: int) -> str:
    if pid == root:
        return "driver"
    cmd = _read(f"/proc/{pid}/cmdline").replace("\0", " ")
    if "java" in cmd.split(" ", 1)[0]:
        return "jvm"
    if "pyspark" in cmd:
        return "py"
    return "other"


def process_tree(root: int | None = None) -> dict[int, dict]:
    """One reading per live process of the tree under *root*: its kind,
    CPU seconds (own, and reaped children's), RSS bytes and storage
    I/O bytes."""
    root = root or os.getpid()
    parent: dict[int, int] = {}
    stats: dict[int, list[str]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            raw = _read(f"/proc/{entry.name}/stat")
        except OSError:
            continue
        fields = raw[raw.rindex(")") + 2 :].split()
        pid = int(entry.name)
        parent[pid] = int(fields[1])
        stats[pid] = fields
    tree = {root}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parent.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    out: dict[int, dict] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for pid in tree:
        f = stats.get(pid)
        if f is None:
            continue
        try:
            kind = _kind(pid, root)
            io = dict(
                line.split(": ")
                for line in _read(f"/proc/{pid}/io").splitlines()
            )
        except OSError:
            continue
        out[pid] = {
            "kind": kind,
            "cpu": (int(f[11]) + int(f[12])) / _TICK,
            "child_cpu": (int(f[13]) + int(f[14])) / _TICK,
            "rss": int(f[21]) * page,
            "read": int(io.get("read_bytes", 0)),
            "write": int(io.get("write_bytes", 0)),
        }
    return out


def tree_delta(before: dict[int, dict], after: dict[int, dict]) -> dict:
    """CPU seconds split into the JVM and the Python workers, and
    storage MB read and written, between two :func:`process_tree`
    readings. Reaped workers are counted through their parent's
    children-CPU field."""

    jvm = py = read = write = 0.0
    for pid, p in after.items():
        b = before.get(pid, {"cpu": 0.0, "child_cpu": 0.0, "read": 0, "write": 0})
        own = p["cpu"] - b["cpu"]
        reaped = p["child_cpu"] - b["child_cpu"]
        if p["kind"] == "jvm":
            jvm += own
            py += reaped  # dead Python daemons are the JVM's children
        elif p["kind"] == "py":
            py += own + reaped
        read += p["read"] - b["read"]
        write += p["write"] - b["write"]
    return {
        "jvm_cpu_s": jvm,
        "py_worker_cpu_s": py,
        "disk_read_mb": read / 2**20,
        "disk_write_mb": write / 2**20,
    }


class RssSampler:
    """Peak RSS of the whole process tree, sampled on a thread."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            try:
                rss = sum(p["rss"] for p in process_tree().values())
            except OSError:
                rss = 0
            self.peak_bytes = max(self.peak_bytes, rss)
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ---- Spark's status store ---------------------------------------------------


def job_ids(spark, group: str) -> list[int]:
    return sorted(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def spark_counters(spark, jobs: list[int]) -> dict:
    """Stage and task totals over *jobs*, read from the AppStatusStore
    (works with the UI disabled). Only completed stages count; a stage
    skipped because its shuffle output was reused did no work."""
    sc = spark.sparkContext
    gw = sc._gateway
    store = sc._jsc.sc().statusStore()
    tot = {
        "stages": 0,
        "tasks": 0,
        "task_run_s": 0.0,
        "task_cpu_s": 0.0,
        "gc_s": 0.0,
        "shuffle_read_mb": 0.0,
        "shuffle_write_mb": 0.0,
        "spill_mb": 0.0,
    }
    seen: set[int] = set()
    for j in jobs:
        sids = store.job(j).stageIds()
        for i in range(sids.size()):
            sid = sids.apply(i)
            if sid in seen:
                continue
            seen.add(sid)
            attempts = store.stageData(
                sid, False, gw.jvm.java.util.ArrayList(), False,
                gw.new_array(gw.jvm.double, 0),
            )
            for k in range(attempts.size()):
                st = attempts.apply(k)
                if st.status().toString() != "COMPLETE":
                    continue
                tot["stages"] += 1
                tot["tasks"] += st.numCompleteTasks()
                tot["task_run_s"] += st.executorRunTime() / 1e3
                tot["task_cpu_s"] += st.executorCpuTime() / 1e9
                tot["gc_s"] += st.jvmGcTime() / 1e3
                tot["shuffle_read_mb"] += st.shuffleReadBytes() / 2**20
                tot["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
                tot["spill_mb"] += (
                    st.memoryBytesSpilled() + st.diskBytesSpilled()
                ) / 2**20
    tot["jobs"] = len(jobs)
    return tot


_PLAN_NODES = {
    "scans": re.compile(r"^(\w*Scan\w*|Range)\b"),
    "exchanges": re.compile(r"^(Exchange|BroadcastExchange)\b"),
    "joins": re.compile(r"^\w*(Join|CartesianProduct)\b"),
    "windows": re.compile(r"^Window(GroupLimit)?\b"),
    "python_nodes": re.compile(
        r"^(MapInPandas|MapInArrow|PythonMapInArrow|FlatMapGroupsInPandas|"
        r"FlatMapCoGroupsInPandas|ArrowEvalPython|BatchEvalPython|"
        r"AggregateInPandas|WindowInPandas|ArrowEvalPythonUDTF|"
        r"BatchEvalPythonUDTF)\b"
    ),
}
_NODE = re.compile(r"^[\s:|+-]*(?:\*\(\d+\)\s*)?(.*)$")


def plan_shape(plan_text: str) -> dict[str, int]:
    """Operator counts in a physical plan's text. For an adaptive plan
    only the final plan is counted."""
    text = plan_text
    if "== Final Plan ==" in text:
        text = text.split("== Final Plan ==", 1)[1].split("== Initial Plan ==")[0]
    counts = dict.fromkeys(_PLAN_NODES, 0)
    for line in text.splitlines():
        node = _NODE.match(line).group(1)
        for key, pat in _PLAN_NODES.items():
            if pat.search(node):
                counts[key] += 1
    return counts


def executed_plan_text(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# ---- kernels and the host canary --------------------------------------------


def _median_rate(fn, units: float, reps: int = 5) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return units / statistics.median(times)


def kernel_rates(shards_dir: str) -> dict[str, float]:
    """Kernel throughput on fixture bytes: LZ4 frame decode (MB/s),
    JPEG decode (images/s) and USTAR build (MB/s)."""
    import tarfile

    from aistore_spark.functions import jpegcodec, lz4frame
    from aistore_spark.operators import archive

    first = sorted(Path(shards_dir).glob("*.tar"))[0]
    blob = first.read_bytes()
    with tarfile.open(first) as tf:
        members = [(m.name, tf.extractfile(m).read()) for m in tf.getmembers()]
    names = [m for m, _ in members]
    payloads = [p for _, p in members]
    frame = lz4frame.compress(blob)
    if lz4frame.decompress(frame) != blob:
        raise ValueError("lz4 round trip changed the bytes")
    jpegs = [jpegcodec.synth_jpeg(i) for i in range(8)]
    return {
        "functions.lz4_decompress_mb_s": _median_rate(
            lambda: lz4frame.decompress(frame), len(blob) / 2**20
        ),
        "functions.jpeg_decode_per_s": _median_rate(
            lambda: [jpegcodec.decode_jpeg(j) for j in jpegs], len(jpegs)
        ),
        "archive.build_tar_mb_s": _median_rate(
            lambda: archive.build_tar(names, payloads), len(blob) / 2**20
        ),
    }


def canary_ms(spark, reps: int = 3) -> float:
    """A short fixed JVM-only job (no Python workers, no I/O): median
    wall of three. A host-speed diagnostic, never a normalizer."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        spark.range(0, 5_000_000, numPartitions=2).selectExpr(
            "sum(hash(id) % 1000) AS s"
        ).collect()
        times.append(time.perf_counter() - t0)
    return statistics.median(times) * 1e3
