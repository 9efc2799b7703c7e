"""Benchmark entry point: run one workload by name and seed.

    python3 perfbench/run.py --workload shard_io --seed 1 --seconds 10 --trace 0

Run from the repository root. With ``--trace 0`` the run measures the
end-to-end metrics untraced; with ``--trace 1`` it traces every other
cycle and reports the per-layer metrics, the tracing overhead, and
writes a span file. Either way every operation's output
is checked after the timed window, and the last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. Human-readable lines with sample counts come before it.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import uuid
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
#: build and run outputs, all inside the checkout (gitignored)
CACHE = ROOT / ".bench_build" / "perfbench"

#: local[N] per workload: N is fixed so both sides of a comparison run
#: the same parallelism. curation runs two task slots, which leaves
#: cores for the JIT, GC, the driver and the Python workers: on a
#: 4-core host its runs interleaved with local[4] spread half as much.
#: shard_io's reads each list and scan 128 shard files, and needs four
#: slots to run a cycle in about 11 s
CPUS = {"shard_io": 4, "curation": 2}
DRIVER_MEM = "2g"
#: set-ups per run; set-up time is their median
SETUPS = 3
#: whole cycles the window always runs, however short --seconds is;
#: a traced run needs one more (see Runner.window)
MIN_CYCLES = 2

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "read_ms": "ms",
    "write_ms": "ms",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "operators.construct_ms": "ms",
    "operators.eager_jobs": "count",
    "plan.ms": "ms",
    "plan.scans": "count",
    "plan.exchanges": "count",
    "plan.joins": "count",
    "plan.windows": "count",
    "plan.python_nodes": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.skew_max_median": "ratio",
    "sources.py_worker_cpu_s": "s",
    "sources.jvm_cpu_s": "s",
    "sources.py_share": "ratio",
    "sources.disk_read_mb": "MB",
    "sources.disk_write_mb": "MB",
    "functions.lz4_decompress_mb_s": "MB/s",
    "functions.jpeg_decode_per_s": "1/s",
    "archive.build_tar_mb_s": "MB/s",
    "host.canary_ms": "ms",
    "host.jvm_start_s": "s",
    "setup.warmup_s": "s",
    "fixtures.shards_build_s": "s",
    "self.construct_s": "s",
    "self.plan_s": "s",
    "self.execute_s": "s",
    "self.driver_s": "s",
    "self.kernels_s": "s",
    "trace.overhead_pct": "%",
    "read_p90_ms": "ms",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def kind_best(records, write: bool) -> dict[str, float]:
    """Each operation kind's fastest latency. Every kind runs at least
    twice, and what slows a sample on a shared host (a still-compiling JVM
    in the first cycle, a busy neighbour) only ever slows it; the
    repository's query sweep takes the best of two for the same
    reason."""
    by: dict[str, list[float]] = {}
    for r in records:
        if r.write == write and not r.error:
            by.setdefault(r.kind, []).append(r.latency_s)
    return {k: min(v) for k, v in by.items()}


def whole_cycles(records, cycle_len: int) -> list[list]:
    """The records of every cycle the window ran to its end."""
    cycles: dict[int, list] = {}
    for r in records:
        cycles.setdefault(r.cycle, []).append(r)
    return [v for _, v in sorted(cycles.items()) if len(v) == cycle_len]


def end_to_end(records, setups: list[float], cycle_len: int, peak_rss: int) -> dict:
    """The end-to-end metrics from untraced operation records. The
    latencies are built from per-kind best latencies, so neither where
    the window cuts a cycle nor the mix of kinds moves them; the rate
    is measured over the whole cycles the window ran."""
    reads = kind_best(records, write=False)
    writes = kind_best(records, write=True)
    whole = whole_cycles(records, cycle_len)
    return {
        "setup_s": statistics.median(setups),
        # closed loop, one client: operations over the wall time of
        # the whole cycles, gaps between operations included
        "ops_per_s": sum(len(c) for c in whole) / sum(c[-1].end - c[0].start for c in whole),
        "read_ms": statistics.mean(reads.values()) * 1e3,
        "write_ms": statistics.mean(writes.values()) * 1e3,
        "peak_rss_mb": peak_rss / 2**20,
    }


def result(attempted: int, failed: int, metrics: dict, units: dict) -> dict:
    """The result object: every known metric with its unit. A metric a
    probe could not measure is absent, never invented."""
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": metrics[k], "unit": u} for k, u in units.items() if k in metrics
        },
    }


def percentile(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(math.ceil(q * len(xs))) - 1)]


def report_lines(wl, records, setups, window_s) -> list[str]:
    """Human-readable lines: every timing with its sample count."""
    lines = [f"setup_s median of {len(setups)}: " + ", ".join(f"{s:.2f}" for s in setups)]
    if wl.describe():
        lines.append(wl.describe())
    for write in (False, True):
        for kind in wl.writes if write else wl.reads:
            lat = [r.latency_s * 1e3 for r in records if r.kind == kind and not r.error]
            if lat:
                lines.append(
                    f"{'write' if write else 'read '} {kind:16s} n={len(lat):3d} "
                    f"p50={statistics.median(lat):8.1f} ms  all: "
                    + " ".join(f"{x:.0f}" for x in lat)
                )
    reads = [r.latency_s * 1e3 for r in records if not r.write and not r.error]
    if reads:
        lines.append(f"read_p90_ms={percentile(reads, 0.9):.1f} (n={len(reads)})")
    for label, write in (("read_members_per_s", False), ("pack_members_per_s", True)):
        items = sum(r.items for r in records if r.write == write and not r.error)
        busy = sum(r.latency_s for r in records if r.write == write and not r.error)
        if items and busy:
            lines.append(f"{label}={items / busy:.0f} (n={items} over {busy:.2f} s)")
    full = [c[-1].end - c[0].start for c in whole_cycles(records, wl.cycle_len())]
    # a curation cycle is one pipeline pass
    lines.append(f"cycle_s={statistics.median(full):.2f} (n={len(full)} whole cycles)")
    lines.append(f"window_s={window_s:.2f}")
    return lines


class Runner:
    """Owns the Spark session, the workload and the run's records."""

    def __init__(self, args: argparse.Namespace):
        self.args = args
        self.run_id = uuid.uuid4().hex[:12]
        self.work_root = CACHE / "work" / f"{args.workload}-{self.run_id}"
        self.cpus = min(CPUS.get(args.workload, 1), os.cpu_count() or 1)
        self.spark = None

    def session(self):
        from aistore_spark.session import get_spark

        tmp = CACHE / "tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        return get_spark(
            "perfbench",
            cpus=self.cpus,
            extra_conf={"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}"},
        )

    def run_op(self, wl, seq: int, kind: str, p: dict, tracer, probe: dict | None = None):
        """One closed-loop operation: construct, (when traced) plan, then
        execute; a failure is recorded, never raised."""
        import probes
        from aistore_spark.util import release_cached
        from workloads import OpRecord

        spark = self.spark
        group = f"{self.run_id}-{seq}"
        spark.sparkContext.setJobGroup(group, kind)
        rec = OpRecord(seq, kind, kind in wl.writes, p)
        rec.traced = tracer.enabled
        df = eager = None
        t0 = time.perf_counter()
        try:
            with tracer.span("op", kind=kind, seq=seq):
                with tracer.span("construct"):
                    df = wl.build(kind, p)
                if tracer.enabled:
                    eager = probes.advisory(lambda: len(probes.job_ids(spark, group)))
                    with tracer.span("plan"):
                        probes.advisory(lambda: probes.executed_plan_text(df))
                with tracer.span("execute"):
                    rec.result = wl.execute(kind, p, df)
            release_cached()
            rec.items = wl.items(kind, rec.result)
        except Exception as e:  # noqa: BLE001 - counted as a failed operation
            rec.error = f"{type(e).__name__}: {e}"
        rec.end = time.perf_counter()
        rec.start, rec.latency_s = t0, rec.end - t0
        if probe is not None and not rec.error:
            # a probe that fails poisons its counts: they are left out
            jobs = probes.advisory(lambda: probes.job_ids(spark, group))
            shape = probes.advisory(lambda: probes.plan_shape(probes.executed_plan_text(df)))
            for key, got in (("eager_jobs", eager), ("jobs", jobs), ("shape", shape)):
                if got is None:
                    probe["broken"].add(key)
            probe["eager_jobs"] += eager or 0
            probe["jobs"].extend(jobs or [])
            for k, v in (shape or {}).items():
                probe[k] += v
        return rec

    def setup_once(self, fx: dict, i: int, prev=None):
        """One set-up of the workload's state in the running session
        (identical on every run); the previous set-up's state is
        dropped first."""
        from workloads import WORKLOADS

        if prev is not None:
            prev.close()
        shutil.rmtree(self.work_root, ignore_errors=True)
        work = self.work_root / f"setup{i}"
        work.mkdir(parents=True)
        wl = WORKLOADS[self.args.workload](fx, work, self.args.seed)
        wl.setup(self.spark)
        return wl

    def warm_up(self, wl, errors: list) -> None:
        """Every operation kind once, with parameters that are the same
        on every run, so the window starts with compiled code."""
        from spans import Tracer

        off = Tracer(self.run_id, enabled=False)
        for j, (kind, p) in enumerate(wl.warm_ops()):
            rec = self.run_op(wl, -1 - j, kind, p, off)
            if rec.error:
                errors.append(f"warm-up {kind}: {rec.error}")

    def window(self, wl, tracer) -> tuple[list, dict, float]:
        """The timed closed loop: operations until the deadline, and at
        least MIN_CYCLES whole cycles. A traced run traces the odd
        cycles and probes cycle 1, whose counts repeat exactly for a
        seed; cycle 0, which can still be warming, is never traced, so
        the overhead compares warm cycles only."""
        import probes
        from aistore_spark.skew import worst_task_skew

        traced_run = self.args.trace == 1
        clen = wl.cycle_len()
        seq = wl.sequence()
        records: list = []
        probe = None
        t_begin = time.perf_counter()
        deadline = t_begin + self.args.seconds
        i = 0
        while True:
            cyc, pos = divmod(i, clen)
            # every kind runs at least twice, so no median rests on one
            # sample; a traced run traces the first of the two
            must = cyc < MIN_CYCLES + (1 if traced_run else 0)
            if not must and time.perf_counter() >= deadline:
                break
            if pos == 0:
                tracer.enabled = traced_run and cyc % 2 == 1
                if traced_run and cyc == 1:
                    probe = {"eager_jobs": 0, "jobs": [], "broken": set(), **dict.fromkeys(
                        ("scans", "exchanges", "joins", "windows", "python_nodes"), 0)}
                    probe["tree0"] = probes.process_tree()
                    probe["since_ms"] = int(time.time() * 1000)
            kind, p = next(seq)
            rec = self.run_op(wl, i, kind, p, tracer, probe if cyc == 1 else None)
            rec.cycle = cyc
            records.append(rec)
            i += 1
            if traced_run and cyc == 1 and pos == clen - 1:
                probe["tree1"] = probes.process_tree()
                probe["skew"] = worst_task_skew(
                    self.spark, probe["since_ms"], min_tasks=4, min_max_ms=50
                )
        tracer.enabled = False
        return records, probe, time.perf_counter() - t_begin

    def main(self) -> int:
        import fixtures
        import probes
        from spans import Tracer

        import workloads

        if self.args.workload not in workloads.WORKLOADS:
            print(f"perfbench: unknown workload {self.args.workload!r}; "
                  f"expected one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
            return 2
        errors: list[str] = []
        with probes.RssSampler() as rss:
            t0 = time.perf_counter()
            self.spark = self.session()
            jvm_start = time.perf_counter() - t0
            fx = fixtures.prepare(self.spark, CACHE)
            # set up once, warm up, then set up again: the median
            # set-up runs on a warm JVM, like the window does
            setups = []
            wl = None
            for i in range(SETUPS):
                t0 = time.perf_counter()
                wl = self.setup_once(fx, i, wl)
                setups.append(time.perf_counter() - t0)
                if i == 0:
                    t0 = time.perf_counter()
                    self.warm_up(wl, errors)
                    warm_s = time.perf_counter() - t0
            tracer = Tracer(self.run_id, enabled=False)
            records, probe, window_s = self.window(wl, tracer)
            peak = rss.peak_bytes
        failures = [f"{r.kind}#{r.seq}: {r.error}" for r in records if r.error]
        try:
            failures += wl.check(records)
        except Exception as e:  # noqa: BLE001 - a broken check is a failure
            failures.append(f"check raised {type(e).__name__}: {e}")
        failures += errors
        canary = probes.canary_ms(self.spark)

        lines = report_lines(wl, records, setups, window_s)
        lines.append(f"host.canary_ms={canary:.1f}  local[{self.cpus}] of nproc={os.cpu_count()}")
        if self.args.trace == 0:
            metrics = end_to_end(records, setups, wl.cycle_len(), peak)
            units = END_TO_END
        else:
            tracer.enabled = True
            with tracer.span("kernels"):
                kernels = {}
                try:
                    kernels = probes.kernel_rates(fx["shards"])
                except Exception as e:  # noqa: BLE001 - advisory probe
                    lines.append(f"kernel probe failed: {e}")
            tracer.enabled = False
            metrics = layer_metrics(self.spark, records, probe, tracer.spans, kernels)
            metrics.update({
                "host.canary_ms": canary,
                "host.jvm_start_s": jvm_start,
                "setup.warmup_s": warm_s,
            })
            if "shards_s" in fx:
                metrics["fixtures.shards_build_s"] = fx["shards_s"]
            units = PER_LAYER
            span_file = CACHE / "traces" / f"{self.args.workload}-{self.args.seed}-{self.run_id}.json"
            tracer.write(span_file)
            lines.append(f"spans: {len(tracer.spans)} written to {span_file.relative_to(ROOT)}")
            top = max(
                ((k, v) for k, v in metrics.items() if k.startswith("self.")),
                key=lambda kv: kv[1], default=None,
            )
            if top:
                lines.append(f"largest self time: {top[0]} = {top[1]:.2f} s")
        for f in failures:
            lines.append(f"FAILED {f}")
        lines.append(f"warm-up: {warm_s:.2f} s, every kind once")
        attempted = len(records) + len(errors)
        failed_ops = {f.split(":")[0] for f in failures}
        lines.append(
            f"failed_frac={len(failed_ops) / max(attempted, 1):.4f} "
            f"({len(failed_ops)} of {attempted})"
        )
        print("\n".join(lines))
        print(json.dumps(result(attempted, len(failed_ops), metrics, units)), flush=True)
        return 0

    def close(self) -> None:
        """Stop Spark and wait for the JVM and every worker to end."""
        import probes
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if self.spark is not None:
            self.spark.stop()
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - fall through to kill
                proc.kill()
                proc.wait(timeout=10)
        deadline = time.time() + 10
        while len(probes.process_tree()) > 1 and time.time() < deadline:
            time.sleep(0.1)
        for pid in probes.process_tree():
            if pid != os.getpid():
                os.kill(pid, 9)
        shutil.rmtree(self.work_root, ignore_errors=True)


def layer_metrics(spark, records, probe, spans, kernels) -> dict:
    """Per-layer numbers: counts from the probed cycle 1, self times
    from its spans, and the tracing overhead from traced against
    untraced warm cycles."""
    import probes
    from spans import self_times

    out: dict[str, float] = {}
    probed = {r.seq for r in records if r.cycle == 1}
    ids = {s["id"] for s in spans if s["name"] == "op" and s["seq"] in probed}
    own = [s for s in spans if s["id"] in ids or s["parent"] in ids or s["name"] == "kernels"]
    dur = lambda name: sum(s["end"] - s["start"] for s in own if s["name"] == name)  # noqa: E731
    out["operators.construct_ms"] = dur("construct") * 1e3
    out["plan.ms"] = dur("plan") * 1e3
    layer = {"op": "self.driver_s", "construct": "self.construct_s", "plan": "self.plan_s",
             "execute": "self.execute_s", "kernels": "self.kernels_s"}
    for k, v in self_times(own, lambda s: layer[s["name"]]).items():
        out[k] = v
    if probe is not None:
        broken = probe.get("broken", set())
        if "eager_jobs" not in broken:
            out["operators.eager_jobs"] = probe["eager_jobs"]
        if "shape" not in broken:
            for k in ("scans", "exchanges", "joins", "windows", "python_nodes"):
                out[f"plan.{k}"] = probe[k]
        counters = None
        if "jobs" not in broken:
            counters = probes.advisory(lambda: probes.spark_counters(spark, probe["jobs"]))
        for k, v in (counters or {}).items():
            out[f"spark.{k}"] = v
        skew = probe.get("skew")
        out["spark.skew_max_median"] = skew["ratio"] if skew else 1.0
        if "tree1" in probe:
            d = probes.tree_delta(probe["tree0"], probe["tree1"])
            out["sources.py_worker_cpu_s"] = d["py_worker_cpu_s"]
            out["sources.jvm_cpu_s"] = d["jvm_cpu_s"]
            total = d["py_worker_cpu_s"] + d["jvm_cpu_s"]
            out["sources.py_share"] = d["py_worker_cpu_s"] / total if total else 0.0
            out["sources.disk_read_mb"] = d["disk_read_mb"]
            out["sources.disk_write_mb"] = d["disk_write_mb"]
    out.update(kernels)
    untraced = [r for r in records if not r.traced]
    traced = [r for r in records if r.traced]
    reads = [r.latency_s * 1e3 for r in (untraced or records) if not r.write and not r.error]
    if reads:
        out["read_p90_ms"] = percentile(reads, 0.9)
    untraced = [r for r in untraced if r.cycle > 0]
    a, b = kind_best(traced, False), kind_best(untraced, False)
    a.update({f"w:{k}": v for k, v in kind_best(traced, True).items()})
    b.update({f"w:{k}": v for k, v in kind_best(untraced, True).items()})
    common = sorted(set(a) & set(b))
    if common:
        out["trace.overhead_pct"] = (geomean([a[k] / b[k] for k in common]) - 1) * 100
    return out


def main(argv: list[str] | None = None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    tmp = CACHE / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # keep every temporary file of this process and its children
    # inside the checkout
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # Python workers import the engine and the benchmark from here
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(HERE)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path[:0] = [str(ROOT), str(HERE)]
    try:
        import aistore_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    runner = Runner(args)
    try:
        return runner.main()
    finally:
        runner.close()


if __name__ == "__main__":
    sys.exit(main())
